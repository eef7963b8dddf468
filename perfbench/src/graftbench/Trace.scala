package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval around a call into a graft module. Spans nest; the
  * innermost open span on the client thread owns the Spark jobs that the
  * thread submits while it is open. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def wallS: Double = (endNs - startNs) / 1e9
}

/** What the listener attributes to one span: its jobs, and per task the
  * run interval, run time, GC time, shuffle-write, spill and result bytes. */
final class SpanCounts {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskS = 0.0
  var gcS = 0.0
  var shuffleWriteB = 0L
  var spillB = 0L
  var resultB = 0L
  val intervals = ArrayBuffer.empty[(Long, Long)]
}

/** Attributes jobs, stages and tasks to spans. A job belongs to the span
  * named by the `Tracer.SpanKey` local property of the thread that
  * submitted it (Spark copies the submitting thread's properties onto the
  * job, also for jobs it runs on helper threads for that thread). */
final class SpanListener extends SparkListener {
  val counts = new ConcurrentHashMap[Int, SpanCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val Unattributed = -1

  private def of(span: Int): SpanCounts = counts.computeIfAbsent(span, _ => new SpanCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(Unattributed)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    of(span).synchronized { of(span).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = Option(stageSpan.get(e.stageInfo.stageId)).map(_.intValue).getOrElse(Unattributed)
    of(span).synchronized { of(span).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(Unattributed)
    val c = of(span)
    val m = Option(e.taskMetrics)
    c.synchronized {
      c.tasks += 1
      c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      m.foreach { t =>
        c.taskS += t.executorRunTime / 1e3
        c.gcS += t.jvmGCTime / 1e3
        c.shuffleWriteB += t.shuffleWriteMetrics.bytesWritten
        c.spillB += t.memoryBytesSpilled + t.diskBytesSpilled
        c.resultB += t.resultSize
      }
    }
  }
}

/** Per-span numbers after the run: the span's own counts plus those of
  * every span nested in it. */
final case class SpanStats(name: String, wallS: Double, selfS: Double, jobs: Int,
    stages: Int, tasks: Int, taskS: Double, idleS: Double, gcS: Double,
    shuffleWriteMb: Double, spillMb: Double, resultMb: Double)

/** Span recorder. Disabled, `span` only runs its body: the untraced run
  * that measures the end-to-end metrics registers no listener and sets no
  * property. Enabled, spans are kept in memory and written out when the
  * run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Appended to every span name while set; the kernel-off pass uses it. */
  var suffix: String = ""
  /** Off during warm-up calls, whose spans are not recorded. */
  var recording: Boolean = true
  val listener: Option[SpanListener] =
    if (enabled) { val l = new SpanListener; sc.addSparkListener(l); Some(l) } else None

  def current: Option[Span] = stack.headOption

  def span[T](name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val s = new Span(spans.size, name + suffix, current.map(_.id).getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      val prior = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prior)
      }
    }

  /** Every closed span with its counts; waits for the listener bus first. */
  def stats(): Seq[(Span, SpanStats)] = listener.toSeq.flatMap { l =>
    org.apache.spark.graftbench.ListenerBus.drain(sc)
    val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Seq.empty).flatMap(subtree)
    def countsOf(s: Span) = Option(l.counts.get(s.id)).getOrElse(new SpanCounts)
    spans.toSeq.map { s =>
      val own = subtree(s).map(countsOf)
      val childWall = children.getOrElse(s.id, Seq.empty).map(_.wallS).sum
      val busyMs = Tracer.unionMs(own.flatMap(_.intervals), s.startMs, s.endMs)
      val idle = math.max(0.0, s.wallS - busyMs / 1e3)
      s -> SpanStats(s.name, s.wallS, math.max(0.0, s.wallS - childWall),
        own.map(_.jobs).sum, own.map(_.stages).sum, own.map(_.tasks).sum,
        own.map(_.taskS).sum, idle, own.map(_.gcS).sum,
        own.map(_.shuffleWriteB).sum / 1e6, own.map(_.spillB).sum / 1e6,
        own.map(_.resultB).sum / 1e6)
    }
  }

  /** Jobs nobody's span claimed (for example, context clean-up). */
  def unattributedJobs: Int =
    listener.flatMap(l => Option(l.counts.get(-1))).map(_.jobs).getOrElse(0)
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    covered
  }
}
