package graft.tools

import scala.collection.mutable

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry
import graft.core.{Decisions, Graft}

/** The diagnostic main: runs query entries and prints one JSON record
  * per entry and run — where the wall went (frame construction,
  * Catalyst planning, execution), what Spark ran (jobs, stages,
  * single-task stages, tasks, executor CPU, shuffle and spill bytes,
  * generated-code compilations),
  * which adaptive branches the engine took (`core.Decisions`), the
  * pre-execution plan's join, exchange and scan counts, and the 15
  * longest stages.
  *
  * Read the stages like this: a stage with `tasks=1` and seconds of
  * CPU is a serialization bug (AQE byte-coalescing of a CPU-heavy
  * narrow frame, or a fan-out streaming on the wrong side of a
  * broadcast join — SURVEY §5's "where AQE's cost model is wrong"); a
  * stage whose CPU is about tasks × its wall is parallel work; total
  * CPU far above wall × cores means recomputation (a missing pin).
  * `codegen_compiles` in the dozens on a warm run means generated
  * classes were evicted from Spark's codegen cache between runs (each
  * compile costs tens of ms of driver time).
  * Later runs are warm: compare run 1 with run N to split JIT and I/O
  * warm-up from plan time.
  *
  * Usage: runMain graft.tools.QueryProfile <sfDir> <entries|all> [runs] [explainDir]
  * (`entries` comma-separated; `explainDir` receives each entry's
  * formatted pre-execution explain as `<entry>.txt`). The session is
  * `Graft.session` on `$SPARK_GRAFT_CPUS` cores, else all of them.
  */
object QueryProfile {

  /** One completed stage attempt. */
  final case class Stage(id: Int, wallS: Double, tasks: Int,
      singleTask: Boolean, cpuS: Double, inputRecords: Long,
      shuffleRecords: Long, shuffleWriteBytes: Long, spillBytes: Long,
      name: String)

  /** Join, exchange and scan counts of a physical plan. */
  final case class PlanShape(bhj: Int, smj: Int, shj: Int, bnlj: Int,
      exch: Int, scans: Int, pushedFilters: Int)

  /** One run of one entry. `codegenCompiles` counts the window's
    * Janino compilations JVM-wide, so it is exact only when nothing
    * else runs queries meanwhile.
    */
  final case class Record(entry: String, run: Int, constructS: Double,
      planS: Double, execS: Double, jobs: Int, stages: Int,
      singleTaskStages: Int, tasks: Int, cpuS: Double,
      shuffleWriteBytes: Long, spillBytes: Long, codegenCompiles: Long,
      plan: Option[PlanShape],
      decisions: Seq[Decisions.Decision], topStages: Seq[Stage],
      error: Option[String])

  /** Jobs started and stages completed since the last [[reset]]: one
    * query window. State is the window's stage list, so it stays
    * bounded as long as each window is reset.
    */
  final class Listener extends SparkListener {
    private val done = mutable.ArrayBuffer.empty[Stage]
    private var jobCount = 0
    @volatile private var lastEventNs = System.nanoTime()

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      jobCount += 1
      lastEventNs = System.nanoTime()
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      def metric(f: TaskMetrics => Long): Long = Option(si.taskMetrics).fold(0L)(f)
      // the first graft frame in the submission stack names the
      // operator that built this stage far better than si.name
      // (broadcast/subquery stages all submit from CompletableFuture)
      val name = si.details.linesIterator
        .find(l => l.contains("graft.") && !l.contains("tools."))
        .map(_.trim.take(80))
        .getOrElse(si.name.takeWhile(_ != '\n').take(60))
      val stage = Stage(si.stageId,
        (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0,
        si.numTasks, si.numTasks == 1, metric(_.executorCpuTime) / 1e9,
        metric(_.inputMetrics.recordsRead),
        metric(_.shuffleReadMetrics.recordsRead),
        metric(_.shuffleWriteMetrics.bytesWritten),
        metric(_.diskBytesSpilled), name)
      synchronized {
        done += stage
        lastEventNs = System.nanoTime()
      }
    }

    def reset(): Unit = synchronized { done.clear(); jobCount = 0 }

    def jobs: Int = synchronized(jobCount)

    def stages: Seq[Stage] = synchronized(done.toList)

    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum

    /** Wait until the listener bus has been quiet for `quietMs` (capped):
      * the bus is asynchronous, so a fixed sleep races a deep backlog
      * and leaks one query's stages into the next window.
      *
      * @return true if the bus reached quiescence; false if the cap cut
      * the wait short — stages may still be in flight, so the window's
      * numbers may cross-attribute to the next one.
      */
    def drain(quietMs: Long = 100, capMs: Long = 2000): Boolean = {
      val deadline = System.nanoTime() + capMs * 1000000L
      while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
          System.nanoTime() < deadline) {
        Thread.sleep(10)
      }
      System.nanoTime() - lastEventNs >= quietMs * 1000000L
    }
  }

  /** Release a finished query's cached frames and checkpointed RDDs, so
    * the next query neither reuses nor pays for them: ContextCleaner
    * is GC-driven, and dead blocks piling up inflate later readings.
    */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }

  /** Janino compilations so far in this JVM: every generated class
    * that missed Spark's codegen cache. Differences of two readings
    * count one window's compiles.
    */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Counts of the plan's join, exchange and scan operators. Codegen
    * spans exist only in the post-execution plan, so none are counted.
    */
  def planShape(plan: String): PlanShape = {
    def count(s: String) = plan.sliding(s.length).count(_ == s)
    PlanShape(count("BroadcastHashJoin"), count("SortMergeJoin"),
      count("ShuffledHashJoin"), count("BroadcastNestedLoopJoin"),
      count("Exchange"), count("FileScan"),
      "PushedFilters: \\[[^\\]]".r.findAllIn(plan).size)
  }

  /** Runs entry `name` once through the noop sink inside one listener
    * window, writing its formatted explain to `explainTo` if given.
    */
  def profile(spark: SparkSession, dir: String, name: String, run: Int,
      listener: Listener, explainTo: Option[String] = None): Record = {
    val fn = SparkEntry.queries(name)
    Decisions.clear()
    listener.reset()
    val compiles0 = codegenCompiles
    def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    var constructS, planS, execS = 0.0
    var plan: Option[PlanShape] = None
    val error = try {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      constructS = since(t0)
      val t1 = System.nanoTime()
      val executed = df.queryExecution.executedPlan
      planS = since(t1)
      plan = Some(planShape(executed.toString))
      explainTo.foreach { path =>
        val w = new java.io.PrintWriter(path)
        try w.println(df.queryExecution.explainString(FormattedMode))
        finally w.close()
      }
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      execS = since(t2)
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    listener.drain()
    val stages = listener.stages
    val record = Record(name, run, constructS, planS, execS, listener.jobs,
      stages.size, stages.count(_.singleTask), stages.map(_.tasks).sum,
      stages.map(_.cpuS).sum, stages.map(_.shuffleWriteBytes).sum,
      stages.map(_.spillBytes).sum, codegenCompiles - compiles0, plan,
      Decisions.snapshot(),
      stages.sortBy(-_.wallS).take(15), error)
    releaseCaches(spark)
    record
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  def json(r: Record): String = mapper.writeValueAsString(r)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4,
      "usage: QueryProfile <sfDir> <entries|all> [runs] [explainDir]")
    val dir = args(0)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown entry '$n'; keys: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val runs = args.lift(2).fold(1)(_.toInt)
    val explainDir = args.lift(3)
    explainDir.foreach(d => new java.io.File(d).mkdirs())
    val spark = Graft.session(sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt))
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    for (name <- names; run <- 1 to runs) {
      val explainTo = explainDir.filter(_ => run == 1).map(d => s"$d/$name.txt")
      println(json(profile(spark, dir, name, run, listener, explainTo)))
    }
    spark.stop()
  }
}
