package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline

/** The benchmark's JVM: one closed loop with one client.
  * The next iteration starts only after the previous one returned.
  *
  * Usage: `Main <workload> <inputs> <work> <seconds> <trace> <result>`
  *
  * `inputs` holds what the generator wrote, `work` is this run's own
  * output area. Warm-up iterations run first; the timed phase then
  * starts iterations until `seconds` have passed. With `trace` = 1 the
  * timed iterations alternate between plain and traced, so the run
  * yields both the per-layer split and the tracing overhead. The result
  * file gets one JSON object; the benchmark's runner turns it into
  * metrics and checks the written outputs.
  */
object Main {

  final case class Iter(i: Int, phase: String, traced: Boolean, wallS: Double,
      checkS: Double, rows: Long, ok: Boolean, error: String,
      extra: Map[String, Any])

  trait Workload {
    def warmups: Int
    def minTimed: Int
    /** Untimed set-up of iteration `i`: its input rows, and what the
      * runner needs to check its output.
      */
    def prepare(i: Int): (Long, Map[String, Any])
    /** Iteration `i` itself: the timed part. */
    def run(i: Int, tr: Option[Tracer]): Unit
    /** The check that runs after iteration `i`, outside its timing. */
    def check(i: Int): Option[String] = None
    /** Output sizes the last check saw, recorded with the iteration. */
    def facts: Map[String, Any] = Map.empty
    /** Work a traced run does after its timed phase. */
    def afterTimed(tr: Tracer): Unit = ()
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  private def parquetRows(spark: SparkSession, dir: String, tables: Seq[String]): Long =
    tables.map { t =>
      val f = new org.apache.hadoop.fs.Path(s"$dir/$t.parquet")
      val conf = spark.sparkContext.hadoopConfiguration
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  /** Nightly order-mirror snapshots through `Pipeline.syncAndIndex`; a
    * fresh snapshot directory every iteration.
    */
  final class SyncIndex(spark: SparkSession, inputs: Path, work: Path) extends Workload {
    val warmups = 3
    val minTimed = 6
    private val pool = Files.list(inputs.resolve("sync")).iterator().asScala
      .map(_.toString).toSeq.sorted

    /** Iterations past the pool re-use a pool snapshot's files under a
      * new directory, so every iteration still reads a path the engine
      * has not seen before.
      */
    private def snapshot(i: Int): String =
      if (i < pool.size) pool(i)
      else {
        val src = Paths.get(pool(i % pool.size))
        val dst = inputs.resolve("sync").resolve(f"snap-$i%03d")
        Files.walk(src).iterator().asScala.toSeq.foreach { p =>
          val q = dst.resolve(src.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
        }
        dst.toString
      }

    private var snap = ""
    private var out = work

    def prepare(i: Int): (Long, Map[String, Any]) = {
      snap = snapshot(i)
      out = work.resolve("sync").resolve(f"iter-$i%03d")
      (parquetRows(spark, snap, Seq("orders", "lineitem")),
        Map("snapshot" -> snap, "out" -> out.toString))
    }

    def run(i: Int, tr: Option[Tracer]): Unit =
      tr match {
        case None => Pipeline.syncAndIndex(spark, snap, out.toString)
        case Some(t) => t.span("iteration", i) {
          // the body of Pipeline.syncAndIndex, one span per layer call
          val diff = t.span("sync.Sync.syncDiff", i)(
            graft.sync.Sync.syncDiff(spark, snap))
          val dirty = diff.filter(col("status").isin("new", "changed"))
            .select(col("key"))
          val docs = t.span("index.Indexing.searchDoc", i)(
            graft.index.Indexing.searchDoc(spark, snap)).join(dirty, "key")
          t.span("sinks.Sinks.chunkedWrite", i) {
            graft.sinks.Sinks.chunkedWrite(docs, "n_name", "key", 5000, out.toString)
            t.attr("written_bytes", treeBytes(out).toDouble)
          }
        }
      }
  }

  /** The full curation flow over one corpus: the shared gates, then the
    * survivor manifest and the decision report, each forced to a noop
    * sink.
    */
  final class Curate(spark: SparkSession, inputs: Path) extends Workload {
    val warmups = 2
    val minTimed = 3
    private val dir = inputs.resolve("curate").toString
    private val nDocs = parquetRows(spark, dir, Seq("documents"))
    private var last: Option[(DataFrame, DataFrame)] = None
    private var reference: Option[(String, String)] = None
    private var sizes: Map[String, Any] = Map.empty
    override def facts: Map[String, Any] = sizes

    private def forced(t: Tracer, name: String, i: Int)(build: => DataFrame): DataFrame =
      t.span(name, i) {
        val df = t.span("construct", i)(build)
        t.span("plan", i)(df.queryExecution.executedPlan)
        t.span("exec", i)(noop(df))
        df
      }

    def prepare(i: Int): (Long, Map[String, Any]) = (nDocs, Map.empty)

    def run(i: Int, tr: Option[Tracer]): Unit =
      last = Some(tr match {
        case None =>
          val g = Pipeline.curateGates(spark, dir)
          val m = Pipeline.curateCorpusFrom(spark, dir, g)
          noop(m)
          val r = Pipeline.curationReportFrom(g)
          noop(r)
          (m, r)
        case Some(t) => t.span("iteration", i) {
          val g = t.span("Pipeline.curateGates", i)(Pipeline.curateGates(spark, dir))
          val m = forced(t, "Pipeline.curateCorpusFrom", i)(
            Pipeline.curateCorpusFrom(spark, dir, g))
          val r = forced(t, "Pipeline.curationReportFrom", i)(
            Pipeline.curationReportFrom(g))
          (m, r)
        }
      })

    private def digest(rows: Seq[String]): String =
      graft.core.IndexScratch.md5hex(rows.sorted.mkString("\n"))

    /** Order-insensitive hashes of both outputs must match the first
      * iteration's, and the report's keep set must equal the manifest.
      */
    override def check(i: Int): Option[String] = {
      val (m, r) = last.get
      val mRows = m.collect().toSeq
      val rRows = r.collect().toSeq
      val hashes = (digest(mRows.map(_.mkString("|"))), digest(rRows.map(_.mkString("|"))))
      val manifestIds = mRows.map(_.getAs[Long]("doc_id")).toSet
      val keepIds = rRows.filter(_.getAs[Int]("keep") == 1)
        .map(_.getAs[Long]("doc_id")).toSet
      sizes = Map("manifest_rows" -> mRows.size, "report_rows" -> rRows.size)
      if (reference.isEmpty) reference = Some(hashes)
      if (manifestIds.size != mRows.size) Some("manifest repeats a doc_id")
      else if (keepIds != manifestIds)
        Some(s"report keep set (${keepIds.size}) != manifest (${manifestIds.size})")
      else if (reference.get != hashes) Some(s"output hashes $hashes != ${reference.get}")
      else None
    }

    /** Each gate alone, one after another, as `curateGates` builds it,
      * so the pooled gate wall can be set against the sum of its parts.
      */
    override def afterTimed(t: Tracer): Unit = {
      import graft.core.Materialize.MatOps
      graft.functions.GraftFunctions.register(spark)
      val gates: Seq[(String, () => DataFrame)] = Seq(
        "text.TextOps.qualityScore" -> (() => graft.text.TextOps.qualityScore(spark, dir)
          .select(col("doc_id"), col("keep").as("q_keep"), col("score"))),
        "curate.Curate.repetitionStats" -> (() => graft.curate.Curate.repetitionStats(spark, dir)
          .select(col("doc_id"), col("flagged").as("rep_flagged"))),
        "text.Relevance.rarityScore" -> (() => graft.text.Relevance.rarityScore(spark, dir)
          .select(col("doc_id"), col("flagged").as("rare_flagged"))),
        "text.Relevance.lmScore" -> (() => graft.text.Relevance.lmScore(spark, dir)
          .select(col("doc_id"), col("flagged").as("lm_flagged"))),
        "dedup.Dedup.dedupCluster" -> (() => graft.dedup.Dedup.dedupCluster(spark, dir)
          .select(col("doc_id"), col("keep").as("dedup_keep"))),
        "curate.Curate.decontaminate" -> (() => graft.curate.Curate.decontaminate(spark, dir)
          .select(col("doc_id"), col("contaminated"))))
      t.span("gates", -1) {
        gates.foreach { case (name, g) =>
          t.span(name, -1)(g().materializeOnce(eager = true))
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputsArg, workArg, secondsArg, traceArg, resultArg) = args
    val inputs = Paths.get(inputsArg)
    val work = Paths.get(workArg)
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.core.Graft.session(cores)
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = if (traced) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val w: Workload = workload match {
      case "sync_index" => new SyncIndex(spark, inputs, work)
      case "curate" => new Curate(spark, inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val iters = ArrayBuffer.empty[Iter]
    def step(i: Int, phase: String, tr: Option[Tracer]): Unit = {
      val (rows, extra) = w.prepare(i)
      val t0 = System.nanoTime()
      val err = try { w.run(i, tr); None }
        catch { case e: Exception => Some(e.toString) }
      val t1 = System.nanoTime()
      val bad = err.orElse(
        try w.check(i) catch { case e: Exception => Some(s"check: $e") })
      iters += Iter(i, phase, tr.isDefined, (t1 - t0) / 1e9,
        (System.nanoTime() - t1) / 1e9, rows, bad.isEmpty, bad.orNull, extra ++ w.facts)
    }

    // the session's cleaner drops unreachable pins and blocks only after
    // a GC has queued them, so collect, let it run, and collect again
    def retainedHeapMb(): Double = {
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1e6
    }

    (0 until w.warmups).foreach(i => step(i, "warmup", None))
    val timedStartMs = System.currentTimeMillis()
    val start = System.nanoTime()
    var i = w.warmups
    var timed = 0
    var heapRetainedMb = 0.0
    // in a traced run, odd timed iterations are traced, even ones plain,
    // and a plain one comes last so every traced one has plain neighbours
    val minTimed = if (traced) w.minTimed + 1 else w.minTimed
    while (timed < minTimed || (System.nanoTime() - start) / 1e9 < seconds ||
        (traced && timed % 2 == 0)) {
      step(i, "timed", tracer.filter(_ => timed % 2 == 1))
      i += 1
      timed += 1
      // the heap is read after a fixed number of iterations, so a faster
      // engine that fits more iterations into --seconds retains no more
      if (timed == w.minTimed) heapRetainedMb = retainedHeapMb()
    }
    tracer.foreach(w.afterTimed)
    spark.stop() // drains the listener bus before the spans are read

    val endMs = System.currentTimeMillis()
    val result = Map[String, Any](
      "end_ms" -> endMs,
      "workload" -> workload, "cores" -> cores,
      "session_ready_ms" -> sessionReadyMs, "timed_start_ms" -> timedStartMs,
      "heap_retained_mb" -> heapRetainedMb,
      "iterations" -> iters.map(it => Map[String, Any](
        "i" -> it.i, "phase" -> it.phase, "traced" -> it.traced,
        "wall_s" -> it.wallS, "check_s" -> it.checkS, "rows" -> it.rows, "ok" -> it.ok,
        "error" -> it.error) ++ it.extra),
      "spans" -> tracer.map(_.dump).getOrElse(Nil))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(resultArg), result)
  }
}
