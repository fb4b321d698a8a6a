package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One clock for spans and listener events: epoch milliseconds with
  * sub-millisecond resolution (Spark stamps its events with epoch millis).
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** A timed interval around one call into a graft layer. `op` is the id of
  * the benchmark operation the span belongs to; `parent` is -1 for the
  * operation's root span.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Double, var t1: Double)

/** Records spans from the benchmark's side of each public call. Spans stay in
  * memory and are written with the run record at the end. When the current
  * operation is untraced, `span` only runs its body.
  *
  * Each span also tags the Spark jobs started inside it through a local
  * property, which [[SparkCounts]] reads to attribute task metrics.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0

  /** Run one benchmark operation; with `traced`, as a root span named `name`. */
  def op[A](opId: Int, name: String, traced: Boolean)(body: => A): A =
    if (!traced) body else open(opId, name)(body)

  /** A child span of the current operation; a no-op outside a traced one. */
  def span[A](name: String)(body: => A): A = stack match {
    case Nil    => body
    case p :: _ => open(p.op, name)(body)
  }

  private def open[A](opId: Int, name: String)(body: => A): A = {
    val s = Span(nextId, stack.headOption.map(_.id).getOrElse(-1), opId, name, Clock.nowMs, Double.NaN)
    nextId += 1
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.t1 = Clock.nowMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Spark listener totals per span: jobs, stages, tasks, task time, scan and
  * shuffle volume, and how long tasks waited from stage submission to launch.
  * Job intervals are kept so driver-only time can be derived per operation.
  */
final class SparkCounts extends SparkListener {
  import SparkCounts._
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  val totals = mutable.Map.empty[Int, Array[Double]]
  /** (span, start epoch ms, end epoch ms) of every finished tagged job. */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp))).map(_.toInt)
  private def add(span: Int, k: Int, v: Double): Unit =
    totals.getOrElseUpdate(span, new Array[Double](Keys.length))(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
      add(s, Jobs, 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { s =>
      jobs += ((s, jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    spanOf(e.properties).orElse(stageSpan.get(info.stageId)).foreach { s =>
      stageSpan(info.stageId) = s
      stageSubmit((info.stageId, info.attemptNumber())) =
        info.submissionTime.getOrElse(System.currentTimeMillis())
      add(s, Stages, 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      add(s, Tasks, 1)
      if (!e.taskInfo.successful) add(s, FailedTasks, 1)
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { t =>
        add(s, WaitMs, math.max(0L, e.taskInfo.launchTime - t).toDouble)
      }
      val m = e.taskMetrics
      if (m != null) {
        add(s, RunMs, m.executorRunTime.toDouble)
        add(s, CpuMs, m.executorCpuTime / 1e6)
        add(s, GcMs, m.jvmGCTime.toDouble)
        add(s, InputBytes, m.inputMetrics.bytesRead.toDouble)
        add(s, InputRecords, m.inputMetrics.recordsRead.toDouble)
        add(s, ShuffleWrite, m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s, ShuffleRead, m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(s, Spill, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }
}

object SparkCounts {
  val Keys: Array[String] = Array("jobs", "stages", "tasks", "failed_tasks", "task_run_ms",
    "task_cpu_ms", "gc_ms", "task_wait_ms", "input_bytes", "input_records",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val FailedTasks = 3; val RunMs = 4
  val CpuMs = 5; val GcMs = 6; val WaitMs = 7; val InputBytes = 8; val InputRecords = 9
  val ShuffleWrite = 10; val ShuffleRead = 11; val Spill = 12
}
