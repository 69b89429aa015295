package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans opened by the benchmark around its calls into the engine, and
  * a listener that charges every Spark job, stage and task to the span
  * that was open on the submitting thread.
  *
  * Attribution rides on a job-local property: Spark copies local
  * properties into every job's start event and into threads spawned
  * from the submitting thread (the curation gate pool, broadcast
  * exchanges), so a job is charged correctly even when its events reach
  * the listener after the span has closed. Spans and counters stay in
  * memory until the run writes them out.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int,
      val iter: Int, val start: Long) {
    var end: Long = 0L
    val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  }

  final class Counters {
    val jobs, stages, singleTaskStages, tasks = new AtomicLong
    val cpuNs, shuffleWriteBytes, spillBytes = new AtomicLong
  }

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val t0 = System.nanoTime()

  private def countersOf(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  /** Run `f` inside a span named `name`, a child of the open span. */
  def span[A](name: String, iter: Int)(f: => A): A = {
    val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), iter,
      System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Attach a measured quantity to the innermost open span. */
  def attr(key: String, value: Double): Unit = stack.head.attrs(key) = value

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(SpanKey)))
    val span = p.fold(Unattributed)(_.toInt)
    countersOf(span).jobs.incrementAndGet()
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = countersOf(stageSpan.getOrDefault(e.stageInfo.stageId, Unattributed))
    c.stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) c.singleTaskStages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = countersOf(stageSpan.getOrDefault(e.stageId, Unattributed))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Every span with its own (not subtree) counters; call after the
    * listener bus has drained (after `SparkContext.stop`).
    */
  def dump: Seq[Map[String, Any]] = {
    def own(id: Int): Map[String, Any] = {
      val c = countersOf(id)
      Map("jobs" -> c.jobs.get, "stages" -> c.stages.get,
        "single_task_stages" -> c.singleTaskStages.get,
        "tasks" -> c.tasks.get, "cpu_s" -> c.cpuNs.get / 1e9,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.get,
        "spill_bytes" -> c.spillBytes.get)
    }
    val rows = spans.toSeq.map(s => Map[String, Any](
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "iter" -> s.iter,
      "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9,
      "attrs" -> s.attrs.toMap) ++ own(s.id))
    rows :+ (Map[String, Any]("id" -> Unattributed, "name" -> "unattributed",
      "parent" -> -1, "iter" -> -1, "start_s" -> 0.0, "end_s" -> 0.0,
      "attrs" -> Map.empty[String, Double]) ++ own(Unattributed))
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val Unattributed: Int = -1
}
