package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call into one layer, timed from outside it.
  * `parent` is the span open on the same thread when this one started
  * (0 = none); `op` is the closed-loop operation the span belongs to, so
  * every span of one operation shares an id. The runtime counters are
  * filled by [[Tracer]]'s SparkListener (jobs, tasks, task time, shuffle
  * bytes) and by the JVM's GC beans (GC time during the span). */
final class Span(val id: Long, val name: String, val parent: Long, val op: Long,
                 val start: Long) {
  @volatile var end: Long = -1L
  var gcMs: Long = 0L
  var jobs: Int = 0
  var tasks: Long = 0L
  var taskNs: Long = 0L
  var shuffleBytes: Long = 0L
  def durNs: Long = end - start
}

/** In-memory span recorder plus run-wide Spark counters.
  *
  * With tracing off, [[span]] runs its body and records nothing, so the
  * untraced run pays one boolean test per layer call. With tracing on,
  * each span also tags the Spark jobs its thread submits with a job group
  * (`span-<id>`); jobs submitted without a group (pool threads inside the
  * engine) are attributed to the innermost span open when they started.
  * Task counters reach a span through stage → job → span. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  @volatile var op: Long = 0L

  /** Run-wide counters over the measured window (see [[openWindow]]). */
  @volatile private var windowOpen = false
  private val jobsW = new java.util.concurrent.atomic.AtomicLong()
  private val tasksW = new java.util.concurrent.atomic.AtomicLong()
  private val taskNsW = new java.util.concurrent.atomic.AtomicLong()
  private val shuffleW = new java.util.concurrent.atomic.AtomicLong()

  private val counters = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (windowOpen) jobsW.incrementAndGet()
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val sid = group.filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong)
        .orElse(innermostOpenAt(e.time))
      sid.foreach { id =>
        val s = byId.get(id)
        if (s != null) s.synchronized { s.jobs += 1 }
        e.stageIds.foreach(st => stageSpan.put(st, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val runNs = if (m == null) 0L else m.executorRunTime * 1000000L
      val shuf = if (m == null) 0L else
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
      if (windowOpen) {
        tasksW.incrementAndGet(); taskNsW.addAndGet(runNs); shuffleW.addAndGet(shuf)
      }
      val id = stageSpan.get(e.stageId)
      if (id != 0L) {
        val s = byId.get(id)
        if (s != null) s.synchronized {
          s.tasks += 1; s.taskNs += runNs; s.shuffleBytes += shuf
        }
      }
    }
  })

  private def innermostOpenAt(tMs: Long): Option[Long] = spans.synchronized {
    val tNs = tMs * 1000000L
    // spans record System.nanoTime; the listener reports wall millis —
    // translate with the offset captured at construction
    val t = tNs - Tracer.wallMinusNano
    spans.reverseIterator.find(s => s.start <= t && (s.end < 0 || s.end >= t)).map(_.id)
  }

  private def gcMsNow(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Time `body` as a call into layer span `name` (e.g. `warehouse.append`). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parentStack = stack.get()
      val s = new Span(nextId.incrementAndGet(), name,
        parentStack.headOption.map(_.id).getOrElse(0L), op, System.nanoTime())
      spans.synchronized { spans += s }
      byId.put(s.id, s)
      stack.set(s :: parentStack)
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", s"span-${s.id}")
      val gc0 = gcMsNow()
      try body
      finally {
        s.gcMs = gcMsNow() - gc0
        s.end = System.nanoTime()
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        stack.set(parentStack)
      }
    }

  /** Record one observation of a layer counter (a ratio, a count or a
    * gauge) at the call boundary where it is produced. */
  def count(name: String, v: Double): Unit = counters.synchronized {
    counters.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  }

  /** Counters rolled up by their name's suffix: `_max` keeps the largest
    * observation, `_ratio` the mean, anything else the sum. */
  def counterRollup: Map[String, Double] = counters.synchronized {
    counters.map { case (k, vs) =>
      k -> (if (k.endsWith("_max")) vs.max else if (k.endsWith("_ratio")) vs.sum / vs.size else vs.sum)
    }.toMap
  }

  private var gcAtOpen = 0L
  private var gcInWindow = 0L
  /** Start the measured window (set-up spans keep op 0). */
  def openWindow(): Unit = {
    jobsW.set(0); tasksW.set(0); taskNsW.set(0); shuffleW.set(0)
    gcAtOpen = gcMsNow(); windowOpen = true
  }
  def closeWindow(): Unit = {
    drain(); windowOpen = false; gcInWindow = gcMsNow() - gcAtOpen
  }

  /** Block until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftBenchAccess.drainListenerBus(sc)

  def allSpans: Seq[Span] = spans.synchronized(spans.toSeq)

  /** Run-wide Spark counters over the measured window:
    * (jobs, tasks, task seconds, shuffle bytes, GC seconds). */
  def windowTotals: (Long, Long, Double, Long, Double) =
    (jobsW.get, tasksW.get, taskNsW.get / 1e9, shuffleW.get, gcInWindow / 1e3)

  /** Spans as JSON lines, written at exit. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    allSpans.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${s.jobs},"tasks":${s.tasks},""" +
        s""""task_s":${s.taskNs / 1e9},"shuffle_bytes":${s.shuffleBytes},"gc_s":${s.gcMs / 1e3}}""")
      sb.append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  /** Offset between wall-clock and monotonic nanoseconds, so listener
    * event times (wall millis) can be placed on the span timeline. */
  val wallMinusNano: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
}
