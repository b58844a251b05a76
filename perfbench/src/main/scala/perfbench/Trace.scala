package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** One timed call into a layer (`layer.call`). `run` is the id shared by
  * every span of one measured pass. The Spark counters are inclusive:
  * a job started inside a child span also counts for its ancestors.
  */
final class Span(val id: Long, val run: Long, val name: String,
    val parent: Option[Span], val startNs: Long) {
  @volatile var constructNs: Long = -1L
  @volatile var endNs: Long = -1L
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong

  def wallS: Double = (endNs - startNs) / 1e9
  /** Time until the call returned its (lazy) result. */
  def constructS: Double =
    ((if (constructNs < 0) endNs else constructNs) - startNs) / 1e9

  def ancestry: Iterator[Span] =
    Iterator.iterate(Option(this))(_.flatMap(_.parent))
      .takeWhile(_.isDefined).map(_.get)
}

object Span {
  /** A span's duration minus the part of its interval that its child
    * spans cover (overlapping children are counted once).
    */
  def selfSeconds(span: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent.exists(_ eq span))
      .map(k => (math.max(k.startNs, span.startNs), math.min(k.endNs, span.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    span.wallS - covered / 1e9
  }

  /** Run wall time not covered by any span: the client's own work
    * (input batches, output checks) and everything between calls.
    */
  def driverSeconds(runWallS: Double, spans: Seq[Span]): Double =
    runWallS - spans.map(selfSeconds(_, spans)).sum
}

/** Attributes Spark work to spans. The tracer tags the client thread
  * with the innermost open span's id (a local property, which Spark
  * copies onto every job the thread starts, broadcast sub-jobs
  * included); each job and each task of the job's stages then counts
  * for that span and its ancestors.
  */
final class SpanListener(spanOf: Long => Option[Span]) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .flatMap(id => spanOf(id.toLong)).foreach { s =>
        s.ancestry.foreach(_.jobs.incrementAndGet())
        e.stageIds.foreach(stageSpan.putIfAbsent(_, s))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      val shuffle = if (m == null) 0L else
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      val spill = if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled
      s.ancestry.foreach { a =>
        a.tasks.incrementAndGet()
        a.taskNs.addAndGet(e.taskInfo.duration * 1000000L)
        a.shuffleBytes.addAndGet(shuffle)
        a.spillBytes.addAndGet(spill)
      }
    }
}

/** Opens spans around the benchmark's calls into graft. Disabled, it
  * adds nothing to a call: no span, no materialization, no listener.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val all = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]
  private val ids = new AtomicLong
  private var open: List[Span] = Nil
  private var run = 0L
  private val listener = new SpanListener(id => Option(byId.get(id)))
  if (enabled) sc.addSparkListener(listener)

  /** Starts a new run id for the spans that follow. */
  def newRun(): Long = { run += 1; run }

  /** Times a layer call that returns a lazy result: `construct` makes
    * it, `materialize` computes every column of it. Untraced, only
    * `construct` runs and its lazy result flows on to the next call.
    */
  def layer[T](name: String)(construct: => T)(materialize: T => T): T =
    if (!enabled) construct
    else {
      val s = start(name)
      try {
        val v = construct
        s.constructNs = System.nanoTime()
        materialize(v)
      } finally finish(s)
    }

  /** Times a call whose work is done when it returns. */
  def call[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = start(name)
      try body finally finish(s)
    }

  private def start(name: String): Span = {
    val s = new Span(ids.incrementAndGet(), run, name, open.headOption,
      System.nanoTime())
    byId.put(s.id, s)
    all += s
    open = s :: open
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    s
  }

  private def finish(s: Span): Unit = {
    s.endNs = System.nanoTime()
    open = open.tail
    sc.setLocalProperty(Tracer.SpanProperty,
      open.headOption.map(_.id.toString).orNull)
  }

  /** Every span closed so far, after all listener events have landed. */
  def spans(): Seq[Span] = {
    if (enabled) org.apache.spark.perfbench.ListenerDrain.drain(sc)
    all.toSeq
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
