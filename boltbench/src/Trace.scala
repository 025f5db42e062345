package boltbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span's id (0 for
  * a statement root); all spans of one statement share `stmt`.
  */
final case class Span(id: Long, parent: Long, stmt: Long, name: String,
    layer: String, startMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span through the `boltbench.span` local
  * property the tracer sets around each call.
  */
final class SpanWork {
  val jobs, stages, tasks, taskRunMs, taskGcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, rowsRead = new AtomicLong
  // task run intervals, epoch ms, for driver-idle time
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

/** Counts jobs, stages and tasks per span. Listener events arrive
  * asynchronously, so [[drain]] waits for the bus to go quiet before
  * the counts are read.
  */
final class SpanListener extends SparkListener {
  val work = new ConcurrentHashMap[Long, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def of(span: Long): SpanWork = work.computeIfAbsent(span, _ => new SpanWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent.set(System.nanoTime())
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop))).foreach { s =>
      val span = s.toLong
      of(span).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, span))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEvent.set(System.nanoTime())
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(of(_).stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent.set(System.nanoTime())
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val w = of(span)
      w.tasks.incrementAndGet()
      w.intervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        w.taskRunMs.addAndGet(m.executorRunTime)
        w.taskGcMs.addAndGet(m.jvmGCTime)
        w.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        w.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        w.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        w.rowsRead.addAndGet(m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
      }
    }
  }

  def drain(): Unit = {
    while (System.nanoTime() - lastEvent.get() < 300L * 1000 * 1000) Thread.sleep(50)
  }
}

/** Records spans in memory; written out when the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack.empty[Long]
  private var stmt = 0L

  def statement[A](name: String)(f: => A): (A, Span) = {
    stmt = ids.incrementAndGet()
    val r = span(name, "harness", stmt)(f)
    (r, spans.last)
  }

  def span[A](name: String, layer: String, fixedId: Long = 0L)(f: => A): A = {
    val id = if (fixedId > 0) fixedId else ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    stack.push(id)
    sc.setLocalProperty(Tracer.Prop, id.toString)
    try f
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.toString).orNull)
      spans.synchronized { spans += Span(id, parent, stmt, name, layer, startMs, t0, t1) }
    }
  }

  /** Self time per span: its duration minus the part its children cover
    * (children of one parent run one after another here, never overlap).
    */
  def selfMs: Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)
    }.toMap
  }

  def childrenOf(id: Long): Seq[Span] = spans.filter(_.parent == id).toSeq
}

object Tracer {
  val Prop = "boltbench.span"

  /** Wall time of [startMs, startMs + ms) during which no task of `w` ran. */
  def idleMs(startMs: Long, ms: Double, w: SpanWork): Double = {
    val end = startMs + ms
    val iv = w.intervals.asScala.toSeq
      .map { case (a, b) => (math.max(a.toDouble, startMs.toDouble), math.min(b.toDouble, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = -1.0; var curB = -1.0
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(0.0, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(0.0, curB - curA)
    math.max(0.0, ms - covered)
  }
}
