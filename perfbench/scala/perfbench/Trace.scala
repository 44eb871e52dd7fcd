package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span the benchmark opens around one of its own calls, timed twice: in
  * epoch milliseconds (the clock Spark stamps job events with) and in
  * seconds on the tracer's monotonic clock. */
final class Span(val id: Int, val op: Int, val name: String, val parent: Int,
                 val startMs: Long, val startS: Double) {
  var endMs: Long = -1L
  var endS: Double = -1.0
  def json: Map[String, Any] = Map(
    "id" -> id, "op" -> op, "name" -> name, "parent" -> parent,
    "start_ms" -> startMs, "end_ms" -> endMs, "start_s" -> startS, "end_s" -> endS)
}

/** Records nested spans on the one driver thread that issues ops. The id of
  * the innermost open span (and of the op) travels with every job as a
  * SparkContext local property, so the listener can charge each job to the
  * span that submitted it. */
final class Tracer(sc: SparkContext, enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val t0 = System.nanoTime()
  private def now = (System.nanoTime() - t0) / 1e9

  def op[T](id: Int)(body: => T): T = {
    sc.setLocalProperty(Tracer.OpProp, id.toString)
    try span(id, "op")(body) finally sc.setLocalProperty(Tracer.OpProp, null)
  }

  def span[T](op: Int, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, op, name, open.headOption.fold(-1)(_.id),
                       System.currentTimeMillis(), now)
      spans += s
      open ::= s
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endS = now
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProp, open.headOption.fold(null: String)(_.id.toString))
      }
    }
}

object Tracer {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"
}

/** Per-job totals of the task metrics, keyed by the job's op and span. */
final class JobRec(val id: Int, val startMs: Long, val op: Int, val span: Int) {
  var endMs = -1L
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  def json: Map[String, Any] = Map(
    "id" -> id, "start_ms" -> startMs, "end_ms" -> endMs, "op" -> op,
    "span" -> span, "stages" -> stages, "tasks" -> tasks,
    "task_s" -> taskMs / 1e3, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "peak_exec_mem_bytes" -> peakMem, "input_bytes" -> inputBytes,
    "input_rows" -> inputRows, "output_bytes" -> outputBytes)
}

final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  private def prop(e: SparkListenerJobStart, k: String): Int =
    Option(e.properties).flatMap(p => Option(p.getProperty(k))).fold(-1)(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time, prop(e, Tracer.OpProp), prop(e, Tracer.SpanProp))
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRows += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Just enough JSON for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
