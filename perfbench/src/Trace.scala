package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-span engine counters, filled from Spark listener events. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    busyMs += o.busyMs; schedWaitMs += o.schedWaitMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** Attributes jobs and tasks to the span that submitted them: the span
  * id rides the job's local properties, and every stage of the job
  * reports to that span.
  */
final class SpanListener extends SparkListener {
  val bySpan = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
    span.foreach { s =>
      val id = s.toInt
      counters(id).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val c = counters(id)
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        val info = e.taskInfo
        // the Spark UI's scheduler delay: task wall time not spent
        // running, deserializing, serializing or fetching the result
        c.schedWaitMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, round: Int,
    startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine's layers. Off, a
  * span is a plain call; on, it records name, start, end and parent and
  * tags the jobs it submits so the listener can attribute them.
  */
final class Tracer(sc: SparkContext, val workload: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener
  private var on = false
  private var stack: List[Int] = Nil
  var round = 0

  def setEnabled(v: Boolean): Unit = if (v != on) {
    on = v
    if (v) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), round,
        System.nanoTime())
      spans += s
      stack = s.id :: stack
      val prev = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, prev)
      }
    }

  /** Counters of a span and all its descendants. */
  def inclusive(span: Span): Counters = {
    org.apache.spark.perfbench.ListenerBusFlush(sc)
    val children = spans.groupBy(_.parent)
    val total = new Counters
    def walk(id: Int): Unit = {
      listener.synchronized(listener.bySpan.get(id)).foreach(total.add)
      children.getOrElse(id, Nil).foreach(c => walk(c.id))
    }
    walk(span.id)
    total
  }

  def toJson: String = {
    val base = spans.headOption.map(_.startNs).getOrElse(0L)
    graft.core.Json.render(spans.map { s =>
      val c = inclusive(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "workload" -> workload, "round" -> s.round,
        "start_ms" -> (s.startNs - base) / 1e6,
        "end_ms" -> (s.endNs - base) / 1e6,
        "jobs" -> c.jobs, "tasks" -> c.tasks,
        "task_busy_s" -> c.busyMs / 1e3, "sched_wait_s" -> c.schedWaitMs / 1e3,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "failed_tasks" -> c.failedTasks)
    })
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
