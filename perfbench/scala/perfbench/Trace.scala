package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into an engine layer, recorded from outside it. */
final case class Span(name: String, id: Int, parent: Int, cycle: Int,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = Long.MaxValue) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Work the Spark scheduler attributed to one job group (= one span name). */
final class GroupCounters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputRecords = 0L
  var outputBytes = 0L

  def +(o: GroupCounters): GroupCounters = {
    val c = new GroupCounters
    c.jobs = jobs + o.jobs
    c.tasks = tasks + o.tasks
    c.cpuNs = cpuNs + o.cpuNs
    c.runMs = runMs + o.runMs
    c.shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes
    c.spillBytes = spillBytes + o.spillBytes
    c.outputRecords = outputRecords + o.outputRecords
    c.outputBytes = outputBytes + o.outputBytes
    c
  }
}

/** Attributes every job, and the tasks of its stages, to a span. A job
  * submitted from the harness thread carries the open span's job group;
  * one submitted from an engine-owned thread pool may carry none, or the
  * group its thread inherited when it was created, so jobs are placed
  * by submission time in the innermost span open then (the harness
  * runs one span at a time). Events arrive on Spark's listener thread;
  * readers call [[Tracer.drain]] first. */
final class GroupListener(spans: mutable.ArrayBuffer[Span]) extends SparkListener {
  val byGroup = mutable.LinkedHashMap[String, GroupCounters]()
  private val stageGroup = mutable.HashMap[Int, String]()
  /** Jobs whose job group differs from the span they ran in. */
  var regrouped = 0L

  private def spanAt(ms: Long): String = spans.synchronized {
    spans.reverseIterator.find(s => s.startMs <= ms && ms <= s.endMs)
      .fold(Tracer.Untraced)(_.name)
  }

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = spanAt(e.time)
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    if (group.getOrElse(Tracer.Untraced) != g) regrouped += 1
    counters(g).jobs += 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageGroup.getOrElse(e.stageId, Tracer.Untraced))
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputRecords += m.outputMetrics.recordsWritten
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): Map[String, GroupCounters] = synchronized { byGroup.toMap }
}

/** Span recorder. With tracing off, [[span]] only runs its body: no
  * job group, no listener, no forced outputs. With tracing on, each
  * span sets a Spark job group named for itself, so the listener
  * attributes the jobs the body runs to the innermost open span. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  var cycle = -1
  val listener: Option[GroupListener] =
    if (on) { val l = new GroupListener(spans); sc.addSparkListener(l); Some(l) } else None

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(name, spans.size, stack.headOption.fold(-1)(_.id), cycle,
        System.nanoTime(), System.currentTimeMillis())
      spans.synchronized(spans += s)
      stack = s :: stack
      sc.setJobGroup(name, name, interruptOnCancel = false)
      try body
      finally {
        spans.synchronized {
          s.endNs = System.nanoTime()
          s.endMs = System.currentTimeMillis()
        }
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.name, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Runs `force` (an action on a span's output) only when tracing:
    * the untraced path leaves the engine's own laziness alone. */
  def force(action: => Any): Unit = if (on) action: Unit

  def drain(): Unit = org.apache.spark.perfbenchbus.Bus.drain(sc)

  /** Names of the spans nested (at any depth) in a span of each name. */
  def descendants: Map[String, Set[String]] = {
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(s: Span): List[String] =
      byId.get(s.parent).fold(List.empty[String])(p => p.name :: ancestors(p))
    spans.toSeq.flatMap(s => ancestors(s).map(_ -> s.name)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
  }

  /** Self time of every span: its wall minus the walls of its direct
    * children (spans run on one thread, so children never overlap). */
  def selfS: Map[Int, Double] = {
    val childS = spans.groupBy(_.parent).view.mapValues(_.map(_.wallS).sum).toMap
    spans.map(s => s.id -> (s.wallS - childS.getOrElse(s.id, 0.0))).toMap
  }
}

object Tracer {
  val Untraced = "(untraced)"
}
