package graft.core

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.analytics.RollupStore
import graft.curate.DecisionStore
import graft.dedup.{Dedup, MinhashIndexStore, SpanIndexStore}
import graft.index.SearchIndexStore
import graft.multimodal.ChunkStore
import graft.sim.VectorIndexStore

/** Crash-REPLAY contracts for the persisted stores: each mutation
  * writes several artifacts in a fixed order, and the documented
  * recovery story is "replay the batch". These specs simulate a crash
  * between two writes by snapshotting the artifact that would not have
  * landed and restoring it after a full mutation, then assert the
  * replay repairs the store to the rebuilt-from-scratch state.
  *
  * The commit-point cases rebuild, for each kind of swap-committed
  * directory (tombstone set, dead map, meta row, bucketed compaction,
  * partitioned rewrite), the three layouts a crash inside
  * `Sinks.swapRewrite` can leave (see [[crashLayouts]]). A read must
  * see the last committed version, and a replay must converge.
  */
class CrashReplaySpec extends SparkSpec {

  private def copyTree(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(Files.delete(_))

  private def snapshot(dir: String): Path = {
    val snap = Files.createTempDirectory("graft-crash-snap").resolve("d")
    copyTree(Paths.get(dir), snap)
    snap
  }

  private def restore(snap: Path, dir: String): Unit = {
    deleteTree(Paths.get(dir))
    copyTree(snap, Paths.get(dir))
  }

  private def docs: DataFrame =
    Tables.documents(spark, sf).select("doc_id", "text")

  private def freshBase(tag: String): String =
    Files.createTempDirectory(s"graft-crash-$tag").toString + "/idx"

  private def ids(r: Range): DataFrame = {
    val sql = spark.sqlContext
    import sql.implicits._
    r.map(_.toLong).toDF("doc_id")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Runs `mutate` on the store at `base`, then rebuilds on disk each
    * state a crash inside the swap of its commit directory `part` can
    * leave, and runs `check` with whether the new version is committed
    * in that state:
    *  - "staged": `<part>.staging` complete, `part` still the old
    *    version (not committed);
    *  - "between renames": `part` absent, the old version in
    *    `<part>.trash`, `<part>.staging` complete (committed);
    *  - "staging incomplete": `<part>.staging` without `_SUCCESS`,
    *    `part` still the old version (not committed).
    * Artifacts in `later` are written after the commit point, so every
    * layout holds their pre-mutation copies; the rest of the store is
    * as the full mutation left it.
    */
  private def crashLayouts(base: String, part: String,
      later: Seq[String] = Nil)(mutate: => Unit)(
      check: Boolean => Unit): Unit = {
    val pre = snapshot(base)
    mutate
    val post = snapshot(base)
    def put(from: Path, to: String): Unit = {
      deleteTree(Paths.get(to))
      if (Files.exists(from)) copyTree(from, Paths.get(to))
    }
    val target = s"$base/$part"
    Seq(("staged", false), ("between renames", true),
        ("staging incomplete", false)).foreach { case (layout, committed) =>
      restore(post, base)
      later.foreach(a => put(pre.resolve(a), s"$base/$a"))
      put(post.resolve(part), target + ".staging")
      if (layout == "between renames") {
        put(pre.resolve(part), target + ".trash")
        deleteTree(Paths.get(target))
      } else put(pre.resolve(part), target)
      if (layout == "staging incomplete")
        Seq("_SUCCESS", "._SUCCESS.crc").foreach(f =>
          Files.deleteIfExists(Paths.get(target + ".staging", f)))
      withClue(s"[$layout] ")(check(committed))
    }
  }

  test("appendToIndex replay repairs a crash between the sets and banded appends") {
    val base = freshBase("mh")
    val existing = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 0)
    val probe = docs.filter(col("doc_id") % 5 === 0)
    MinhashIndexStore.build(existing, base)
    def gate: Seq[String] =
      MinhashIndexStore.dedupIncrementalAgainstIndex(probe, base)
        .collect().map(_.toString).sorted.toSeq
    val full = Dedup.dedupIncrementalDocs(probe, existing.unionByName(batch))
      .collect().map(_.toString).sorted.toSeq
    // crash simulation: the sets append landed, the banded append did
    // not — restore the pre-append banded directory after a full append
    val bandedSnap = snapshot(s"$base/banded")
    MinhashIndexStore.appendToIndex(batch, base)
    assert(gate == full)
    restore(bandedSnap, s"$base/banded")
    // the crashed state must actually be broken, or this spec has no power
    assert(gate != full, "batch slice contributes no band candidates — widen it")
    // replay: the batch ids are already in the sets table, so the
    // banded half must be guarded INDEPENDENTLY or it stays empty
    MinhashIndexStore.appendToIndex(batch, base)
    assert(gate == full)
  }

  test("upsertDocs after a crashed append never reuses an occupied postings generation") {
    val base = freshBase("sidx-gen")
    SearchIndexStore.build(docs.filter(col("doc_id") < 100), base)
    def rev(n: Int): DataFrame = docs.filter(col("doc_id") === 3)
      .select(col("doc_id"), concat(col("text"), lit(s" rev$n")).as("text"))
    // crash simulation: dead map + postings(gen 1) landed, docstats did not
    val statsSnap = snapshot(s"$base/docstats")
    assert(SearchIndexStore.upsertDocs(rev(2), base) == ((0L, 1L)))
    restore(statsSnap, s"$base/docstats")
    // upstream moved again before the retry: DIFFERENT content arrives.
    // Its generation must clear the orphaned postings gen 1, or the
    // (doc_id, gen) guard drops the new postings while the docstats row
    // lands and the index serves rev2's postings under rev3's hash.
    assert(SearchIndexStore.upsertDocs(rev(3), base) == ((1L, 0L)))
    val rebuilt = freshBase("sidx-gen-rebuilt")
    SearchIndexStore.build(
      docs.filter(col("doc_id") < 100 && col("doc_id") =!= 3).unionByName(rev(3)),
      rebuilt)
    def served(b: String): Seq[String] =
      SearchIndexStore.invertedIndexOf(spark, b)
        .collect().map(_.toString).sorted.toSeq
    assert(served(base) == served(rebuilt))
    assert(SearchIndexStore.loadDocStats(spark, base).count() == 100)
    // identical replay of the repaired revision: clean no-op
    assert(SearchIndexStore.upsertDocs(rev(3), base) == ((0L, 0L)))
  }

  test("a no-op upsert replay still repairs a stale meta row") {
    val base = freshBase("sidx-meta")
    SearchIndexStore.build(docs.filter(col("doc_id") < 100), base)
    val metaSnap = snapshot(s"$base/meta")
    val rev2 = docs.filter(col("doc_id") === 3)
      .select(col("doc_id"), concat(col("text"), lit(" rev2")).as("text"))
    assert(SearchIndexStore.upsertDocs(rev2, base) == ((0L, 1L)))
    // crash simulation: both appends + dead landed, the meta write did
    // not — the replay below sees no effective mutation
    restore(metaSnap, s"$base/meta")
    def metaRow = spark.read.parquet(s"$base/meta")
      .select("n_docs", "total_tokens").head()
    val liveTokens = SearchIndexStore.loadDocStats(spark, base)
      .agg(sum("n_tokens")).head().getLong(0)
    assert(metaRow.getLong(1) != liveTokens, "rev2 did not change token count")
    assert(SearchIndexStore.upsertDocs(rev2, base) == ((0L, 0L)))
    assert(metaRow.getLong(0) == 100L && metaRow.getLong(1) == liveTokens)
  }

  test("tombstone set: a crashed commit reads as the last committed set") {
    val base = freshBase("tomb")
    ChunkStore.buildChunkStore(
      Tables.documents(spark, sf).filter(col("doc_id") < 40)
        .select("doc_id", "text"), base)
    ChunkStore.deleteChunkDocs(ids(0 until 5), base)
    def liveIds: Set[Long] = ChunkStore.liveManifest(spark, base)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    val before = liveIds
    val after = before -- (10L until 20L)
    crashLayouts(base, "tombstones")(
      ChunkStore.deleteChunkDocs(ids(10 until 20), base)) { committed =>
      assert(liveIds == (if (committed) after else before))
      ChunkStore.deleteChunkDocs(ids(10 until 20), base)
      assert(liveIds == after)
    }
  }

  test("dead map: a crashed commit reads as the last committed map") {
    val base = freshBase("dead")
    SearchIndexStore.build(docs.filter(col("doc_id") < 100), base)
    SearchIndexStore.deleteDocs(ids(0 until 5), base)
    def liveIds: Set[Long] = SearchIndexStore.loadDocStats(spark, base)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def meta: Seq[String] = rows(spark.read.parquet(s"$base/meta"))
    val before = liveIds
    var served, metaAfter = Seq.empty[String]
    crashLayouts(base, "dead", later = Seq("meta")) {
      SearchIndexStore.deleteDocs(ids(10 until 20), base)
      served = rows(SearchIndexStore.invertedIndexOf(spark, base))
      metaAfter = meta
    } { committed =>
      assert(liveIds == (if (committed) before -- (10L until 20L) else before))
      SearchIndexStore.deleteDocs(ids(10 until 20), base)
      assert(rows(SearchIndexStore.invertedIndexOf(spark, base)) == served)
      assert(meta == metaAfter)
    }
  }

  test("meta row: a crashed commit point never stops the next sync") {
    val base = freshBase("meta")
    val d = docs.filter(col("doc_id") < 80)
    SpanIndexStore.buildSpanIndex(d.filter(col("doc_id") < 60), base)
    val nBatch = d.filter(col("doc_id") >= 60).count()
    def report: Seq[String] = rows(spark.read.parquet(s"$base/report"))
    var reportAfter = Seq.empty[String]
    crashLayouts(base, "meta") {
      assert(SpanIndexStore.spanSync(d, base) == nBatch)
      reportAfter = report
    } { committed =>
      // an uncommitted batch is absorbed again, and the id-guarded
      // report does not duplicate it; a committed one is a no-op
      assert(SpanIndexStore.spanSync(d, base) == (if (committed) 0L else nBatch))
      assert(report == reportAfter)
      assert(SpanIndexStore.spanSync(d, base) == 0L)
    }
  }

  test("bucketed compaction: a crashed rewrite serves the same index") {
    val base = freshBase("compact")
    SearchIndexStore.build(docs.filter(col("doc_id") < 100), base)
    SearchIndexStore.deleteDocs(ids(0 until 10), base)
    def served: Seq[String] = rows(SearchIndexStore.invertedIndexOf(spark, base))
    def physical: Long = spark.read.parquet(s"$base/postings").count()
    val before = served
    val physBefore = physical
    var physAfter = 0L
    crashLayouts(base, "postings", later = Seq("docstats", "meta", "dead")) {
      SearchIndexStore.compact(spark, base)
      physAfter = physical
    } { committed =>
      assert(physAfter < physBefore)
      assert(served == before)
      assert(physical == (if (committed) physAfter else physBefore))
      SearchIndexStore.compact(spark, base)
      assert(served == before)
      assert(physical == physAfter)
      assert(!IndexScratch.pathExists(spark, s"$base/dead"))
    }
  }

  test("partitioned swapRewrite: a crashed rollup fold serves the same rollup") {
    val base = freshBase("rollup")
    val ev = Tables.events(spark, sf)
    RollupStore.appendSlice(ev.filter(col("user_id") % 2 === 0), base, 0L)
    RollupStore.appendSlice(ev.filter(col("user_id") % 2 === 1), base, 1L)
    def served: Seq[String] =
      rows(RollupStore.windowHourlyFrom(RollupStore.loadPartials(spark, base)))
    def slices: Set[Long] = RollupStore.loadPartials(spark, base)
      .select(col("slice_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val before = served
    crashLayouts(base, "partials")(
      RollupStore.compactPartials(spark, base)) { committed =>
      assert(served == before)
      assert(slices == (if (committed) Set(-1L) else Set(0L, 1L)))
      RollupStore.compactPartials(spark, base)
      assert(served == before)
      assert(slices == Set(-1L))
    }
  }

  test("decision tombstones: a crashed delete reads as the last committed set") {
    val dir = Files.createTempDirectory("graft-crash-dec").toString
    Tables.documents(spark, sf).filter(col("doc_id") % 5 =!= 0)
      .write.parquet(s"$dir/documents.parquet")
    val base = DecisionStore.ensureDecisions(spark, dir)
    DecisionStore.deleteDecisions(ids(1 until 5), dir)
    def liveIds: Set[Long] = DecisionStore.decisionTable(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def bandTombstones: Seq[String] =
      rows(spark.read.parquet(s"$base/mh/tombstones"))
    val before = liveIds
    val after = before -- (10L until 30L)
    var bandAfter = Seq.empty[String]
    crashLayouts(base, "tombstones", later = Seq("mh/tombstones")) {
      DecisionStore.deleteDecisions(ids(10 until 30), dir)
      bandAfter = bandTombstones
    } { committed =>
      assert(liveIds == (if (committed) after else before))
      DecisionStore.deleteDecisions(ids(10 until 30), dir)
      assert(liveIds == after)
      assert(bandTombstones == bandAfter)
    }
  }

  test("vector tombstones: a crashed delete reads as the last committed set") {
    val base = freshBase("vtomb")
    VectorIndexStore.buildIvfPq(
      Tables.embeddings(spark, sf).select("vec_id", "embedding"), base)
    def vecIds(r: Range): DataFrame = ids(r).withColumnRenamed("doc_id", "vec_id")
    VectorIndexStore.deleteIvfPq(vecIds(0 until 5), base)
    def liveIds: Set[Long] = VectorIndexStore.loadIvfPq(spark, base).codes
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val before = liveIds
    val after = before -- (10L until 30L)
    crashLayouts(base, "tombstones", later = Seq("meta")) {
      VectorIndexStore.deleteIvfPq(vecIds(10 until 30), base)
    } { committed =>
      assert(liveIds == (if (committed) after else before))
      VectorIndexStore.deleteIvfPq(vecIds(10 until 30), base)
      assert(liveIds == after)
      assert(VectorIndexStore.loadIvfPq(spark, base).n == after.size)
    }
  }
}
