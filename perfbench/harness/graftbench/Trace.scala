package graftbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.Success
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `parent` is the index of the
  * enclosing span in [[Tracer.spans]], or -1 for an op's root span. */
final case class Span(op: Int, name: String, startNs: Long, endNs: Long,
    parent: Int)

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays one branch per layer call. */
final class Tracer(var on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.length
      spans += Span(op, name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1))
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }
}

/** Execution-layer counters fed by the listener bus. Read them only
  * after [[org.apache.spark.graftbench.Drain]]. */
final class ExecCounters extends SparkListener {
  private val c = scala.collection.concurrent.TrieMap.empty[String, AtomicLong]
  private def inc(k: String, by: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong).addAndGet(by)
  private var active = 0
  private var activeSinceMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    inc("exec.jobs", 1)
    if (active == 0) activeSinceMs = e.time
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) inc("exec.ms", e.time - activeSinceMs)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    inc("exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    inc("exec.tasks", 1)
    if (e.reason != Success) inc("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      inc("exec.task_run_ms", m.executorRunTime)
      inc("exec.input_rows", m.inputMetrics.recordsRead)
      inc("exec.input_bytes", m.inputMetrics.bytesRead)
      inc("exec.output_bytes", m.outputMetrics.bytesWritten)
      inc("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      inc("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }.toMap
}
