package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call into one graft layer, made from the harness. */
final case class Span(id: Long, name: String, parent: Long, op: Int,
    startMs: Long, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Raw Spark events, kept in memory until the run ends. The listener only
  * appends; attribution to spans happens after the bus has drained. */
final class SparkEvents extends SparkListener {
  final case class Job(id: Int, timeMs: Long, group: String, stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, failed: Boolean,
      cpuNs: Long, runMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, peakMem: Long, bytesRead: Long, bytesWritten: Long)

  val jobs = ArrayBuffer.empty[Job]
  val stageSubmitMs = scala.collection.mutable.Map.empty[Int, Long]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs += Job(e.jobId, e.time, group, e.stageIds)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    tasks += (if (m == null) Task(e.stageId, i.launchTime, i.failed, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    else Task(e.stageId, i.launchTime, i.failed, m.executorCpuTime, m.executorRunTime,
      m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  def clear(): Unit = synchronized { jobs.clear(); stageSubmitMs.clear(); tasks.clear() }
}

/** Span recorder and per-operation aggregation for the traced run.
  *
  * A span is opened around each call into a layer. While it is open the
  * harness sets a Spark job group named after the span id, so each job
  * is tagged with the call that issued it. Jobs whose group is not one of
  * the operation's spans (threads that inherited an older group) fall back
  * to the innermost span open when the job started. Self time is a span's
  * duration minus the time its children cover. An untraced run
  * (`enabled` false) registers no listener and records no spans. */
final class Tracer(sc: SparkContext, nproc: Int, enabled: Boolean) {
  val events = new SparkEvents
  if (enabled) sc.addSparkListener(events)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var active = false
  private var op = -1
  private var compilesAtStart = 0L

  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def beginOp(opIndex: Int, traced: Boolean): Unit = {
    active = enabled && traced
    op = opIndex
    if (traced) {
      drain()
      events.clear()
      compilesAtStart = compiles
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), op,
        System.currentTimeMillis(), System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Per-operation layer metrics of the operation just finished. */
  def endOp(wallS: Double): Map[String, Double] = {
    if (!active) return Map.empty
    drain()
    val mine = spans.filter(_.op == op).toSeq
    val byId = mine.map(s => s.id -> s).toMap
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    // self time per span name
    mine.foreach { s =>
      val kids = mine.filter(_.parent == s.id)
      add(s.name + "_s", s.seconds - kids.map(_.seconds).sum)
    }
    events.synchronized {
      def spanOf(j: events.Job): Option[Span] =
        Option(j.group).flatMap(g => g.toLongOption).flatMap(byId.get)
          .orElse(mine.filter(s => s.startMs <= j.timeMs &&
            j.timeMs <= s.startMs + (s.endNs - s.startNs) / 1000000)
            .sortBy(-_.startNs).headOption)
      val jobSpan = events.jobs.map(j => j.id -> spanOf(j)).toMap
      events.jobs.foreach(j => jobSpan(j.id).foreach(s => add(s.name + "_jobs", 1)))
      val stageSpan = events.jobs.flatMap(j => jobSpan(j.id).toSeq.flatMap(s => j.stages.map(_ -> s))).toMap
      events.tasks.foreach(t => stageSpan.get(t.stage).foreach(s => add(s.name + "_cpu_s", t.cpuNs / 1e9)))
      add("spark.jobs", events.jobs.size)
      add("spark.stages", events.stageSubmitMs.size)
      add("spark.tasks", events.tasks.size)
      add("spark.task_failures", events.tasks.count(_.failed))
      val cpuS = events.tasks.map(_.cpuNs).sum / 1e9
      add("spark.executor_cpu_s", cpuS)
      add("spark.executor_run_s", events.tasks.map(_.runMs).sum / 1e3)
      add("spark.gc_s", events.tasks.map(_.gcMs).sum / 1e3)
      add("spark.task_wait_s", events.tasks.map(t =>
        events.stageSubmitMs.get(t.stage).map(s => math.max(0L, t.launchMs - s)).getOrElse(0L)).sum / 1e3)
      add("spark.shuffle_read_bytes", events.tasks.map(_.shuffleRead).sum.toDouble)
      add("spark.shuffle_write_bytes", events.tasks.map(_.shuffleWrite).sum.toDouble)
      add("spark.spill_bytes", events.tasks.map(_.spill).sum.toDouble)
      add("spark.peak_exec_mem_bytes",
        (0L +: events.tasks.map(_.peakMem).toSeq).max.toDouble)
      add("spark.core_util", cpuS / (wallS * nproc))
      add("sources.input_bytes", events.tasks.map(_.bytesRead).sum.toDouble)
      add("sources.bytes_written", events.tasks.map(_.bytesWritten).sum.toDouble)
    }
    add("spark.codegen_compiles", (compiles - compilesAtStart).toDouble)
    active = false
    out.toMap
  }

  /** All spans of the run, as JSON lines. */
  def spansJson: Seq[String] = spans.toSeq.map(s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "duration_s" -> s.seconds)))

  def close(): Unit = if (enabled) sc.removeSparkListener(events)
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => quote(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
