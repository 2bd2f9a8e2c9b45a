package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Span recording for the traced run.
  *
  * A span wraps one call into a layer's entry point. Before the call the
  * span id goes into the Spark local property `SpanProp`, so every job the
  * call submits carries it, and [[ExecListener]] charges the job's stages
  * and tasks to that span. With tracing off, `span` only runs the body.
  */
final class Trace(sc: SparkContext) {
  var enabled = false
  case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, var end: Long = 0L)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val sp = Span(spans.size, name, stack.headOption.getOrElse(-1), op, System.nanoTime())
      spans += sp
      stack = sp.id :: stack
      sc.setLocalProperty(Trace.SpanProp, sp.id.toString)
      try body
      finally {
        sp.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }
}

object Trace {
  val SpanProp = "perfbench.span"
}

/** Per-span execution totals, fed by [[ExecListener]]. */
final class ExecTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var peakExecMem = 0L
}

/** Attributes jobs, stages and task metrics to the span that submitted
  * them (or to span -1 when none was open), and keeps job intervals for
  * the exec.driver_idle_s computation.
  */
final class ExecListener extends SparkListener {
  val bySpan = mutable.Map.empty[Int, ExecTotals]
  private val stageSpan = mutable.Map.empty[Int, Int]
  /** (start ms, end ms) per finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private var markerJob = -1
  @volatile private var markerDone = false

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty(Trace.SpanProp))).map(_.toInt).getOrElse(-1)
  private def totals(span: Int) = bySpan.getOrElseUpdate(span, new ExecTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sp = spanOf(e.properties)
    if (sp == ExecListener.Marker) { markerJob = e.jobId; return }
    jobStart(e.jobId) = e.time
    totals(sp).jobs += 1
    e.stageIds.foreach(stageSpan(_) = sp)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == markerJob) markerDone = true
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).filter(_ != ExecListener.Marker)
      .foreach(sp => totals(sp).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val sp = stageSpan.getOrElse(e.stageId, -1)
    if (sp == ExecListener.Marker) return
    val t = totals(sp)
    t.tasks += 1
    if (m != null) {
      t.runNs += m.executorRunTime * 1000000L
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Blocks until every event posted so far has been delivered: runs a
    * one-task marker job and waits for its end event, which the listener
    * bus delivers after everything posted before it.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit = {
    markerDone = false
    val prev = sc.getLocalProperty(Trace.SpanProp)
    sc.setLocalProperty(Trace.SpanProp, ExecListener.Marker.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Trace.SpanProp, prev)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!markerDone && System.currentTimeMillis() < deadline) Thread.sleep(2)
    require(markerDone, "listener bus did not deliver the marker job's end event")
  }

  def reset(): Unit = synchronized {
    bySpan.clear(); jobIntervals.clear()
  }
}

object ExecListener {
  /** Span id of the drain marker job, which is charged to no span. */
  val Marker = -2
}
