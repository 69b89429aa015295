package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.curate.DecisionStore

case class Ev(event_id: Long, ts: Long, user_id: Long, event_type: String,
              value: Double)

class StreamsSpec extends SparkSpec {

  /** Feed the sf0.001 events through a MemoryStream in append mode,
    * pushing two far-future flush events so the watermark passes every
    * real session/window, then compare against the identical batch plan.
    */
  private def runStream(transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                        sinkName: String): org.apache.spark.sql.DataFrame = {
    val sql = spark.sqlContext
    import sql.implicits._
    val events = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val maxTs = events.map(_.ts).max
    val stream = MemoryStream[Ev](spark)
    val query = transform(stream.toDF())
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(events)
      query.processAllAvailable()
      // each flush batch advances the watermark computed from the previous one
      stream.addData(Ev(-1, maxTs + 86400L * 1000000000L, -1, "flush", 0.0))
      query.processAllAvailable()
      stream.addData(Ev(-2, maxTs + 2 * 86400L * 1000000000L, -1, "flush", 0.0))
      query.processAllAvailable()
    } finally query.stop()
    spark.table(sinkName)
  }

  test("streaming eventSessions matches the batch session_window plan") {
    val got = runStream(Streams.eventSessions(_), "sessions_sink")
      .filter(col("user_id") =!= -1)
      .collect().map(_.toString).sorted
    val batch = Streams.eventSessions(
        graft.core.Tables.events(spark, sf)
          .select("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(_.toString).sorted
    assert(got.length > 0)
    assert(got.sameElements(batch))
  }

  test("streaming hourlyCounts matches the batch twin on count and sum") {
    val got = runStream(ev => Streams.hourlyCounts(ev), "hourly_sink")
      .select("hour_start", "event_type", "n_events", "total_value")
      .filter(col("event_type") =!= "flush")
      .collect().map(_.toString).sorted
    val batch = Streams.hourlyCounts(
        graft.core.Tables.events(spark, sf)
          .select("event_id", "ts", "user_id", "event_type", "value"))
      .select("hour_start", "event_type", "n_events", "total_value")
      .collect().map(_.toString).sorted
    assert(got.length > 0)
    assert(got.sameElements(batch))
  }

  test("streaming slidingCounts matches the batch sliding-window rollup") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[java.sql.Timestamp]("win_start").getTime,
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    val got = rows(runStream(ev => Streams.slidingCounts(ev), "sliding_sink"))
    // batch twin over the same events INCLUDING the flush markers the
    // stream saw (they are real rows in its windows)
    val sql = spark.sqlContext
    import sql.implicits._
    val events = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev].collect().toSeq
    val maxTs = events.map(_.ts).max
    val all = events ++ Seq(
      Ev(-1, maxTs + 86400L * 1000000000L, -1, "flush", 0.0),
      Ev(-2, maxTs + 2 * 86400L * 1000000000L, -1, "flush", 0.0))
    val batch = rows(Streams.slidingCounts(all.toDF()))
    assert(got.nonEmpty)
    // every window the stream emitted agrees with the batch result
    // exactly (the final flush windows may be withheld by the watermark)
    assert(got.subsetOf(batch))
    // and every real-event window closed before the watermark advances,
    // so all of them must have been emitted
    val realClosed = batch.filter { case (startMs, _, _) =>
      startMs + 3600000L <= maxTs / 1000000L + 3600000L }
    assert(realClosed.map(_._1).subsetOf(got.map(_._1)))
  }

  test("streaming dedupEvents drops duplicate event ids, keeps all distinct ones") {
    val sql = spark.sqlContext
    import sql.implicits._
    val events = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    // duplicate every third event (same id, same payload) — the stream
    // must emit each id exactly once
    val withDups = events ++ events.filter(_.event_id % 3 == 0)
    val maxTs = events.map(_.ts).max
    val stream = MemoryStream[Ev](spark)
    val query = Streams.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(withDups)
      query.processAllAvailable()
      stream.addData(Ev(-1, maxTs + 86400L * 1000000000L, -1, "flush", 0.0))
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.table("dedup_sink").filter(col("event_id") >= 0)
    assert(got.count() == events.length)
    assert(got.select("event_id").distinct().count() == events.length)
  }

  test("outboxRelay delivers each event once into bounded chunk files") {
    val sql = spark.sqlContext
    import sql.implicits._
    val events = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val withDups = events ++ events.filter(_.event_id % 4 == 0)
    val maxTs = events.map(_.ts).max
    val out = java.nio.file.Files.createTempDirectory("relay").toString
    val stream = MemoryStream[Ev](spark)
    val query = Streams.outboxRelay(stream.toDF(), out, chunkSize = 100)
    try {
      stream.addData(withDups)
      query.processAllAvailable()
      stream.addData(Ev(-1, maxTs + 86400L * 1000000000L, -1, "flush", 0.0))
      query.processAllAvailable()
    } finally query.stop()
    val written = spark.read.parquet(out).filter(col("event_id") >= 0)
    // exactly-once: every distinct event lands once despite the dups
    assert(written.count() == events.length)
    assert(written.select("event_id").distinct().count() == events.length)
    // chunk contract: bounded size, ordered ids within each chunk stream
    val sizes = written.groupBy("batch_id", "event_type", "chunk_id").count().collect()
    assert(sizes.forall(_.getAs[Long]("count") <= 100))
  }

  test("a replayed outboxRelay rewrites identical chunks in the key-ordered layout") {
    val sql = spark.sqlContext
    import sql.implicits._
    val events = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val maxTs = events.map(_.ts).max
    val out = java.nio.file.Files.createTempDirectory("relay-replay").toString
    val chunkSize = 40
    // each run is a new query over the same input, so its batch ids
    // start at 0 again: the second run replays every batch of the first
    def relay(): Array[(Long, String, Long, Long)] = {
      val stream = MemoryStream[Ev](spark)
      val query = Streams.outboxRelay(stream.toDF(), out, chunkSize = chunkSize)
      try {
        stream.addData(events)
        query.processAllAvailable()
        stream.addData(Ev(-1, maxTs + 86400L * 1000000000L, -1, "flush", 0.0))
        query.processAllAvailable()
      } finally query.stop()
      spark.read.parquet(out)
        .select(col("batch_id").cast("long"), col("event_type"),
          col("chunk_id").cast("long"), col("event_id"))
        .as[(Long, String, Long, Long)].collect()
    }
    val first = relay()
    val replayed = relay()
    assert(replayed.sorted.sameElements(first.sorted))
    // within each batch and stream, rows sorted by key fill chunks in order
    val reference = first.groupBy(r => (r._1, r._2)).values.flatMap { rs =>
      rs.sortBy(_._4).zipWithIndex.map { case (r, i) => r._3 == i / chunkSize }
    }
    assert(reference.forall(identity))
    assert(first.map(_._3).max >= 1, "the case must hold several chunks per stream")
  }

  test("a replayed batch partition overwrites instead of duplicating (sink idempotence)") {
    // the write mode both streaming sinks use: dynamic partition
    // overwrite must rewrite ONLY the replayed batch_id partition —
    // append would duplicate it, STATIC overwrite would wipe the other
    // batches' partitions; the batch0-batch1-replay-batch0 sequence
    // distinguishes all three
    val out = java.nio.file.Files.createTempDirectory("replay").toString
    def write(batchId: Long): Unit =
      spark.range(10)
        .select((col("id") + batchId * 10).as("doc_id"), lit(batchId).as("batch_id"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(out)
    write(0); write(1); write(0) // replay batch 0
    val got = spark.read.parquet(out)
    assert(got.count() == 20)
    assert(got.select("batch_id").distinct().count() == 2)
  }

  test("incrementalDedupGate flags streamed docs exactly like the batch operator") {
    val sql = spark.sqlContext
    import sql.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
    val newDocs = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSeq
    val existing = docs.filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("incgate").toString
    val stream = MemoryStream[(Long, String)](spark)
    val query = Streams.incrementalDedupGate(
      stream.toDS().toDF("doc_id", "text"), existing, out)
    try {
      // two micro-batches: split the crawl mid-way
      val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(out)
      .select("doc_id", "n_dups", "first_dup", "is_dup")
      .collect().map(_.toString).sorted
    val batch = graft.dedup.Dedup.dedupIncremental(spark, sf)
      .collect().map(_.toString).sorted
    assert(got.length == newDocs.length)
    assert(got.sameElements(batch))
  }

  test("semanticDeconGate flags streamed vectors exactly like the batch operator") {
    val sql = spark.sqlContext
    import sql.implicits._
    val emb = graft.core.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val train = emb.filter(col("vec_id") % 97 =!= 0)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](1))).toSeq
    val evalVecs = emb.filter(col("vec_id") % 97 === 0)
    val out = java.nio.file.Files.createTempDirectory("semgate").toString
    val stream = MemoryStream[(Long, Seq[Float])](spark)
    val query = Streams.semanticDeconGate(
      stream.toDS().toDF("vec_id", "embedding"), evalVecs, out)
    try {
      val (b1, b2) = train.splitAt(train.length / 2)
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      // replay idempotence: re-deliver batch 2's rows as a fresh batch —
      // verdict ROWS stay value-identical across the whole sink
      stream.addData(b2)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.read.parquet(out)
      .select("vec_id", "n_close", "max_cos6", "closest_eval", "contaminated")
      .distinct()
      .collect().map(_.toString).sorted
    val batch = graft.curate.Curate.semanticDecon(spark, sf)
      .collect().map(_.toString).sorted
    assert(got.sameElements(batch))
  }

  test("distinctSketchGauge merges micro-batch sketches to the batch sketch exactly") {
    val sql = spark.sqlContext
    import sql.implicits._
    val docs = graft.core.Tables.documents(spark, sf).select("lang", "text")
    val all = docs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val statePath = java.nio.file.Files.createTempDirectory("kmvstate")
      .resolve("state").toString
    val stream = MemoryStream[(String, String)](spark)
    val query = Streams.distinctSketchGauge(
      stream.toDS().toDF("lang", "text"), statePath, k = 64)
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      // replayed batch: merging the same hashes again is a set no-op
      stream.addData(b2)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.read.parquet(statePath).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    val batch = graft.text.TextOps.bottomK(
      graft.text.TextOps.shingleHashes(docs), 64).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(streamed.sameElements(batch))
    // and the estimate off the streamed state equals the batch estimate
    val se = graft.text.TextOps.sketchEstimate(
      spark.read.parquet(statePath), 64).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est_distinct")).toMap
    val be = graft.text.TextOps.sketchEstimate(
      graft.text.TextOps.bottomK(graft.text.TextOps.shingleHashes(docs), 64), 64)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("est_distinct")).toMap
    assert(se == be)
  }

  test("crawlNoveltyGauge: per-batch states replay-safe; read fold matches direct overlap") {
    val sql = spark.sqlContext
    import sql.implicits._
    val docs = graft.core.Tables.documents(spark, sf).select("lang", "text")
    val all = docs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val statePath = java.nio.file.Files.createTempDirectory("noveltystate")
      .resolve("state").toString
    val stream = MemoryStream[(String, String)](spark)
    val query = Streams.crawlNoveltyGauge(
      stream.toDS().toDF("lang", "text"), statePath, k = 64)
    val (b1, b2) = all.splitAt(all.length / 2)
    try {
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      // a later crawl re-fetching identical content: its state
      // partition is a pure function of the batch (the replay-safety
      // contract), and the read-side fold must report it as 0 novelty
      stream.addData(b2)
      query.processAllAvailable()
    } finally query.stop()
    val got = Streams.crawlNoveltyRead(spark, statePath, k = 64).collect()
    val byBatch = got.groupBy(_.getAs[Long]("batch_id"))
    assert(byBatch.keySet == Set(0L, 1L, 2L))
    def state(rows: Seq[(String, String)]) = graft.text.TextOps.bottomK(
      graft.text.TextOps.shingleHashes(
        rows.toDF("lang", "text")), 64)
    def cmp(rows: Array[org.apache.spark.sql.Row],
        expect: org.apache.spark.sql.DataFrame): Unit = {
      val g = rows.map(r => (r.getAs[String]("lang"), r.getAs[Long]("est_old"),
        r.getAs[Long]("est_new"), r.getAs[Long]("est_union"),
        r.getAs[Long]("est_inter"), r.getAs[Long]("novelty_ppm"))).sorted
      val e = expect.collect().map(r => (r.getAs[String]("lang"),
        r.getAs[Long]("est_old"), r.getAs[Long]("est_new"),
        r.getAs[Long]("est_union"), r.getAs[Long]("est_inter"),
        r.getAs[Long]("novelty_ppm"))).sorted
      assert(g.sameElements(e))
    }
    val s1 = state(b1)
    // batch 0 against nothing: everything is novel, novelty pins at 1e6
    cmp(byBatch(0L), graft.text.TextOps.sketchOverlapFrom(s1.limit(0), s1, 64))
    assert(byBatch(0L).forall(_.getAs[Long]("novelty_ppm") == 1000000L))
    // batch 1 against batch 0's fold
    cmp(byBatch(1L), graft.text.TextOps.sketchOverlapFrom(s1, state(b2), 64))
    // the replayed batch 2 == batch 1's data against a fold that already
    // contains it: est_union == est_old, so novelty reads 0
    assert(byBatch(2L).forall(_.getAs[Long]("novelty_ppm") == 0L))

    // COMPACTION: folding a prefix must not change the series one bit —
    // persisted rows replace the fold for batches < 2, the merged -1
    // state seeds the tail, and read cost drops to O(tail)
    def series(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("lang"),
        r.getAs[Long]("est_old"), r.getAs[Long]("est_new"),
        r.getAs[Long]("est_union"), r.getAs[Long]("est_inter"),
        r.getAs[Long]("novelty_ppm"))).sorted.toSeq
    val before = series(Streams.crawlNoveltyRead(spark, statePath, k = 64))
    Streams.crawlNoveltyCompact(spark, statePath, k = 64, beforeBatch = 2L)
    val partsAfter = spark.read.parquet(statePath)
      .select("batch_id").distinct().collect()
      .map(_.get(0).toString.toLong).toSet
    assert(partsAfter == Set(-1L, 2L),
      s"compaction should leave the merged prefix + tail, got $partsAfter")
    assert(series(Streams.crawlNoveltyRead(spark, statePath, k = 64)) == before)
    // recompaction folds the remaining tail into the prefix; the series
    // is then served entirely from persisted rows — still identical
    Streams.crawlNoveltyCompact(spark, statePath, k = 64)
    assert(series(Streams.crawlNoveltyRead(spark, statePath, k = 64)) == before)
    // and a no-op compact (nothing below the fence) leaves it alone
    Streams.crawlNoveltyCompact(spark, statePath, k = 64, beforeBatch = 0L)
    assert(series(Streams.crawlNoveltyRead(spark, statePath, k = 64)) == before)
  }

  test("crawlNoveltyRead survives a committed batch with zero shingle rows") {
    val sql = spark.sqlContext
    import sql.implicits._
    val statePath = java.nio.file.Files.createTempDirectory("noveltyempty")
      .resolve("state").toString
    val stream = MemoryStream[(String, String)](spark)
    val query = Streams.crawlNoveltyGauge(
      stream.toDS().toDF("lang", "text"), statePath, k = 64)
    try {
      // every doc under 3 tokens: the batch is non-empty, so the sink
      // fires, but the transform emits zero rows — the partitioned
      // write leaves _SUCCESS with no part files, and a bare
      // spark.read.parquet on that path THROWS; the read guard must
      // report the empty series instead
      stream.addData(Seq(("de", "zu kurz"), ("en", "hi")))
      query.processAllAvailable()
    } finally query.stop()
    assert(Streams.crawlNoveltyRead(spark, statePath, k = 64).collect().isEmpty)
  }

  test("decisionAppendGate streams crawl batches into the decision store, replay-safe") {
    val sql = spark.sqlContext
    import sql.implicits._
    import org.apache.spark.sql.functions.col
    val all = graft.core.Tables.documents(spark, sf)
    def mkCorpus(): String = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-decstream").toString
      all.filter(col("doc_id") % 5 =!= 0)
        .write.parquet(s"$tmp/documents.parquet")
      tmp
    }
    val batchRows = all.filter(col("doc_id") % 5 === 0)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      .sortBy(_._1)
    // streamed: two ordered micro-batches + an at-least-once replay
    val dirA = mkCorpus()
    DecisionStore.decisionTable(spark, dirA).count() // build the store
    val stream = MemoryStream[(Long, String, String)](spark)
    val query = Streams.decisionAppendGate(
      stream.toDS().toDF("doc_id", "text", "source"), dirA)
    try {
      val (b1, b2) = batchRows.splitAt(batchRows.length / 2)
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      stream.addData(b1) // replay
      query.processAllAvailable()
    } finally query.stop()
    // reference: the one-shot batch append on a twin corpus
    val dirB = mkCorpus()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val oneShot = rows(DecisionStore.appendDecisions(spark, dirB,
      all.filter(col("doc_id") % 5 === 0)))
    assert(rows(DecisionStore.decisionTable(spark, dirA)) == oneShot)
  }

  test("quantileSketchGauge merges micro-batch samples to the batch sketch exactly") {
    val sql = spark.sqlContext
    import sql.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang")
    val all = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val statePath = java.nio.file.Files.createTempDirectory("qsketchstate")
      .resolve("state").toString
    val stream = MemoryStream[(Long, String, String)](spark)
    val query = Streams.quantileSketchGauge(
      stream.toDS().toDF("doc_id", "text", "lang"), statePath, k = 32)
    try {
      val (b1, b2) = all.splitAt(all.length / 2)
      stream.addData(b1)
      query.processAllAvailable()
      stream.addData(b2)
      query.processAllAvailable()
      // replayed batch: merging the same sample rows again is a set no-op
      stream.addData(b2)
      query.processAllAvailable()
    } finally query.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val batchState = graft.text.TextOps.quantileBottomK(
      graft.text.TextOps.scoreHashesDocs(docs), 32)
    assert(canon(spark.read.parquet(statePath)
      .select("lang", "doc_id", "h", "score")) == canon(batchState))
    // and the percentile estimates off the streamed state equal the
    // batch sketch's
    assert(canon(graft.text.TextOps.quantileSketchEstimate(
        spark.read.parquet(statePath))) ==
      canon(graft.text.TextOps.quantileSketchEstimate(batchState)))
  }

  test("streaming sessionize agrees with the batch sessionize session count") {
    val batchSessions = graft.analytics.Analytics.sessionize(spark, sf).count()
    val streamed = spark.table("sessions_sink")
      .filter(col("user_id") =!= -1).count()
    assert(streamed == batchSessions)
  }

  test("flatMapGroupsWithState sessionizer matches the batch sessionize operator") {
    val got = runStream(Streams.eventSessionsCustom(_), "fmgs_sink")
      .filter(col("user_id") >= 0)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_start_us"), r.getAs[Long]("session_end_us"),
        r.getAs[Long]("n_events"), r.getAs[Double]("session_value"))).sorted
    val batch = graft.analytics.Analytics.sessionize(spark, sf)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_start_us"), r.getAs[Long]("session_end_us"),
        r.getAs[Long]("n_events"), r.getAs[Double]("session_value"))).sorted
    assert(got.length > 0)
    assert(got.sameElements(batch))
  }

  test("custom sessionizer merges a cross-batch late event and lowers the start") {
    val sql = spark.sqlContext
    import sql.implicits._
    val base = 1706140800000000000L // 2024-01-25T00:00:00Z in epoch-ns
    val min = 60L * 1000000000L
    val stream = MemoryStream[Ev](spark)
    val query = Streams.eventSessionsCustom(stream.toDF())
      .writeStream.format("memory").queryName("late_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: the open session ends at `base`; watermark -> base - 30min
      stream.addData(Ev(1, base, 7, "view", 2.0))
      query.processAllAvailable()
      // batch 2: a late event 10min BEFORE the open session's start but
      // above the watermark — must merge and pull session_start down
      // (the old signed gap check merged it but kept the higher start)
      stream.addData(Ev(2, base - 10 * min, 7, "view", 1.0))
      query.processAllAvailable()
      stream.addData(Ev(-1, base + 86400L * 1000000000L, -1, "flush", 0.0))
      query.processAllAvailable()
      stream.addData(Ev(-2, base + 2 * 86400L * 1000000000L, -1, "flush", 0.0))
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.table("late_sink").filter(col("user_id") === 7).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("session_start_us") == (base - 10 * min) / 1000)
    assert(r.getAs[Long]("session_end_us") == base / 1000)
    assert(r.getAs[Long]("n_events") == 2)
    assert(r.getAs[Double]("session_value") == 3.0)
  }

  test("stream-stream clickAttribution matches the identical batch join") {
    val got = runStream(Streams.clickAttribution(_), "attr_sink")
      .collect().map(_.toString).sorted
    val batch = Streams.clickAttribution(
        graft.core.Tables.events(spark, sf)
          .select("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(_.toString).sorted
    assert(got.length > 0)
    assert(got.sameElements(batch))
    // every attributed click is within the hour preceding its purchase
    spark.table("attr_sink").collect().foreach { r =>
      val p = r.getAs[java.sql.Timestamp]("p_ets").getTime
      val c = r.getAs[java.sql.Timestamp]("c_ets").getTime
      assert(c <= p && c >= p - 3600000L)
    }
  }

  test("heavyHitterGauge folds micro-batch CMS states to the one-pass sketch, replay-safe") {
    val sql = spark.sqlContext
    import sql.implicits._
    val docs = graft.core.Tables.documents(spark, sf).select("lang", "text")
    val all = docs.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val statePath = java.nio.file.Files
      .createTempDirectory("cmsstate").resolve("state").toString
    val stream = MemoryStream[(String, String)](spark)
    val query = Streams.heavyHitterGauge(
      stream.toDS().toDF("lang", "text"), statePath)
    try {
      val (b1, rest) = all.splitAt(all.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b => stream.addData(b); query.processAllAvailable() }
    } finally query.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val whole = graft.text.TextOps.cmsState(
      graft.text.TextOps.shingleOccurrences(docs))
    assert(rows(graft.text.TextOps.cmsLoad(spark, statePath)) == rows(whole))
    // crash redelivery = same batchId → partition rewrite, fold unchanged
    val (b1, _) = all.splitAt(all.length / 3)
    graft.text.TextOps.cmsState(graft.text.TextOps.shingleOccurrences(
        spark.createDataset(b1).toDF("lang", "text")))
      .withColumn("batch_id", lit(0L))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(statePath)
    assert(rows(graft.text.TextOps.cmsLoad(spark, statePath)) == rows(whole))
    // compaction folds the batch history into one partition; the live
    // sketch is unchanged and later batches still merge in
    val survivors = graft.text.TextOps.cmsCompact(spark, statePath)
    assert(survivors <= whole.count())
    assert(rows(graft.text.TextOps.cmsLoad(spark, statePath)) == rows(whole))
    assert(spark.read.parquet(statePath).select("batch_id").distinct()
      .collect().map(_.getAs[Number](0).longValue).toSeq == Seq(-1L))
    // fenced compaction: a batch at/above the replay floor stays in its
    // own partition (redeliverable), the fold below is unchanged
    graft.text.TextOps.cmsState(graft.text.TextOps.shingleOccurrences(
        spark.createDataset(b1).toDF("lang", "text")))
      .withColumn("batch_id", lit(5L))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(statePath)
    graft.text.TextOps.cmsCompact(spark, statePath, beforeBatch = 5L)
    assert(spark.read.parquet(statePath).select("batch_id").distinct()
      .collect().map(_.getAs[Number](0).longValue).toSeq.sorted ==
      Seq(-1L, 5L))
  }

  test("rollupAppend maintains the pane store; both rollups equal the batch scans") {
    val sql = spark.sqlContext
    import sql.implicits._
    val events = graft.core.Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val base = java.nio.file.Files
      .createTempDirectory("graft-rollup-stream").toString + "/roll"
    val stream = MemoryStream[Ev](spark)
    val query = Streams.rollupAppend(stream.toDF(), base)
    try {
      // three uneven micro-batches — each lands as its own batchId slice
      val (b1, rest) = events.splitAt(events.length / 5)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        stream.addData(b); query.processAllAvailable()
      }
    } finally query.stop()
    val partials = graft.analytics.RollupStore.loadPartials(spark, base)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(rows(graft.analytics.RollupStore.windowHourlyFrom(partials)) ==
      rows(graft.analytics.Analytics.windowHourly(spark, sf)))
    assert(rows(graft.analytics.RollupStore.windowSlidingFrom(partials)) ==
      rows(graft.analytics.Analytics.windowSliding(spark, sf)))
    // a crash-redelivered micro-batch carries the SAME batchId —
    // appendSlice rewrites that one partition, counts unchanged
    graft.analytics.RollupStore.appendSlice(
      spark.createDataset(b3OfRollup(events)).toDF(), base, 2L)
    assert(rows(graft.analytics.RollupStore.windowHourlyFrom(
      graft.analytics.RollupStore.loadPartials(spark, base))) ==
      rows(graft.analytics.Analytics.windowHourly(spark, sf)))
  }

  /** batch 3 of the rollupAppend split, reproduced for the replay leg */
  private def b3OfRollup(events: Seq[Ev]): Seq[Ev] = {
    val (_, rest) = events.splitAt(events.length / 5)
    rest.splitAt(rest.length / 2)._2
  }
}
