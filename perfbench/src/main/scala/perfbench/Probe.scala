package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work attributed to one span (or to the whole run, span 0). */
final class Counters {
  val jobs, stages, tasks, cpuNs, gcNs, shuffleRead, shuffleWrite, spill = new AtomicLong
  /** SQL executions started from `Redirects.scala`: one per hop. */
  val redirectHops: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_ns" -> cpuNs.get, "gc_ns" -> gcNs.get,
    "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
    "spill" -> spill.get, "redirect_hops" -> redirectHops.size.toLong)
}

/** The benchmark's own SparkListener. Each job carries the id of the span
  * that was open on the submitting thread (a local property),
  * and every stage and task of the job is charged to that span and to the
  * run total. A job's call site is that of its SQL execution (adaptive
  * execution submits most jobs from a pool thread, whose own call site
  * says nothing); an execution called from `Redirects.scala` is one
  * redirect hop. Readers call [[Probe.drain]] first: listener events are
  * delivered asynchronously. */
final class Probe(sc: SparkContext) extends SparkListener {
  import Probe.SpanKey
  val total = new Counters
  private val bySpan = new ConcurrentHashMap[Int, Counters]
  private val stageSpan = new ConcurrentHashMap[Int, Int]
  /** Jobs per call site over the whole run. */
  val sites = new ConcurrentHashMap[String, AtomicLong]

  def span(id: Int): Map[String, Long] =
    Option(bySpan.get(id)).fold(new Counters().snapshot)(_.snapshot)

  def drain(): Unit = org.apache.spark.PerfbenchHooks.drainListenerBus(sc)

  private def charge(span: Int)(f: Counters => Unit): Unit = {
    f(total)
    if (span > 0) f(bySpan.computeIfAbsent(span, _ => new Counters))
  }

  private val executionSite = new ConcurrentHashMap[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // the description is the action's short call site, e.g.
    // "count at Redirects.scala:80", unless a job description is set
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSite.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(SpanKey).fold(0)(_.toInt)
    val execution = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id")).map(_.toLong)
    val site = execution.flatMap(id => Option(executionSite.get(id)))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    e.stageIds.foreach(stageSpan.put(_, span))
    sites.computeIfAbsent(site, _ => new AtomicLong).incrementAndGet()
    charge(span) { c =>
      c.jobs.incrementAndGet()
      if (site.contains("Redirects.scala")) execution.foreach(c.redirectHops.add)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    charge(stageSpan.getOrDefault(e.stageInfo.stageId, 0))(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) charge(stageSpan.getOrDefault(e.stageId, 0)) { c =>
      c.tasks.incrementAndGet()
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcNs.addAndGet(m.jvmGCTime * 1000000L)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.diskBytesSpilled)
    }
  }
}

object Probe {
  val SpanKey = "perfbench.span"

  /** Bytes held by cached and checkpointed blocks right now. */
  def storageBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Garbage-collection time of this JVM so far, in seconds. */
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** One span: a layer call made by the benchmark. Spans of one iteration
  * share `iter`; `parent` is 0 for an iteration's root. */
final case class Span(id: Int, iter: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long)

/** Spans kept in memory and written when the run ends. While `on` is
  * false, [[apply]] only runs the body: the untraced path sets no local
  * property and records nothing. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open: List[Int] = Nil
  var on = false
  var iter = 0

  /** The innermost open span, 0 when none is open. */
  def currentId: Int = open.headOption.getOrElse(0)

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = currentId
      open = id :: open
      sc.setLocalProperty(Probe.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, iter, name, parent, t0, System.nanoTime())
        open = open.tail
        sc.setLocalProperty(Probe.SpanKey, open.headOption.map(_.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Ids of every span named `name` and of their descendants. */
  def subtree(name: String): Map[Span, Set[Int]] = {
    val children = spans.groupBy(_.parent)
    def ids(id: Int): Set[Int] = Set(id) ++ children.getOrElse(id, Nil).flatMap(s => ids(s.id))
    spans.filter(_.name == name).map(s => s -> ids(s.id)).toMap
  }
}
