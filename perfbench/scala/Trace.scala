package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-job-group counters gathered from listener events. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillDiskBytes = 0L
  var spillMemBytes = 0L
  /** (launch, finish) wall-clock millis of every task, for busy-time unions. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: GroupCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillDiskBytes += o.spillDiskBytes; spillMemBytes += o.spillMemBytes
    taskIntervals ++= o.taskIntervals
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
    "sched_delay_ms" -> schedDelayMs, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_disk_bytes" -> spillDiskBytes,
    "spill_mem_bytes" -> spillMemBytes,
    "task_intervals_ms" -> taskIntervals.map { case (a, b) => Seq(a, b) }.toSeq)
}

/** Counts jobs, stages and task metrics per Spark job group. */
final class GroupListener extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupCounters]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def counters(g: String) = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach(g => counters(g).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      stageGroup(e.stageInfo.stageId) = g
      counters(g).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      val info = e.taskInfo
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillDiskBytes += m.diskBytesSpilled
      c.spillMemBytes += m.memoryBytesSpilled
      c.taskIntervals += ((info.launchTime, info.finishTime))
    }
  }

  def snapshot(group: String): Option[GroupCounters] = synchronized(groups.get(group))
}

/** In-memory span recorder for the traced operations.
  *
  * A span is (id, name, parent, op, start, end) plus free-form attributes.
  * While a span is open its id is the thread's Spark job group, so the
  * listener attributes every job the span triggers to it; `alias` adds job
  * groups that Spark assigns itself (a streaming query runs its batches
  * under its run id). Spans are only recorded while `active`; the listener is
  * attached for exactly those operations, so untraced operations in the same
  * run pay nothing.
  */
final class Tracer(sc: SparkContext) {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startMs: Double, var endMs: Double,
                        attrs: mutable.Map[String, Double],
                        groups: mutable.ArrayBuffer[String])

  // span clock: wall-clock millis (comparable to task launch/finish times)
  // advanced by the monotonic clock
  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var listener: GroupListener = null
  private var op = -1

  def active: Boolean = listener != null

  private def nowMs = epochMs + (System.nanoTime() - epochNs) / 1e6
  private def groupId(s: Span) = s"perfbench-span-${s.id}"

  /** Run `body` as traced operation `opId`: attach a fresh listener, and
    * after the body drain the listener bus so every event is counted. */
  def traceOp[T](opId: Int)(body: => T): T = {
    listener = new GroupListener
    op = opId
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
      for (s <- spans if s.op == opId) {
        val merged = new GroupCounters
        s.groups.foreach(g => listener.snapshot(g).foreach(merged.add))
        counters(s.id) = merged
      }
      listener = null
    }
  }

  private val counters = mutable.Map.empty[Int, GroupCounters]

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        nowMs, Double.NaN, mutable.Map.empty, mutable.ArrayBuffer.empty)
      spans += s
      s.groups += groupId(s)
      stack = s :: stack
      sc.setJobGroup(groupId(s), name)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupId(p), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Set an attribute on the latest span called `name` of the current op. */
  def attr(name: String, key: String, value: Double): Unit =
    if (active) spans.reverseIterator.find(s => s.op == op && s.name == name)
      .foreach(_.attrs(key) = value)

  /** Count jobs of an extra job group towards the innermost open span. */
  def alias(group: String): Unit =
    if (active) stack.headOption.foreach(_.groups += group)

  def toSeq: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs.toMap,
      "counters" -> counters.getOrElse(s.id, new GroupCounters).toMap)
  }
}
