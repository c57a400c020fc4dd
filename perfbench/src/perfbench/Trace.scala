package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One traced interval. Times are milliseconds on the wall clock, so that
  * they line up with the job times Spark's listener events carry.
  * `parent` is -1 for a root span (one operation of the closed loop). */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Spans {

  /** Length of the union of intervals (overlaps counted once). */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Intervals clipped to `[lo, hi]`. */
  def clip(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> (s.durMs - unionLength(clip(kids, s.startMs, s.endMs)))
    }.toMap
  }

  /** Root span id of every span. */
  def roots(spans: Seq[Span]): Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def root(id: Int): Int = byId.get(id) match {
      case Some(s) if s.parent >= 0 && byId.contains(s.parent) => root(s.parent)
      case _ => id
    }
    spans.map(s => s.id -> root(s.id)).toMap
  }
}

/** Records spans around the calls the benchmark makes into each layer.
  * While a span is open, the Spark local property [[Tracer.SpanKey]] names
  * it, so every job the layer submits — also from the pool threads it
  * starts, which inherit local properties — is attributed to that span.
  * Disabled, it only runs the body. Spans are held in memory and written
  * out once, at the end of the run. */
final class Tracer(val run: String, @volatile var enabled: Boolean, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = -1 }
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent: Int = current.get()
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      current.set(id)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        spans.synchronized { spans += Span(id, name, parent, run, start, end) }
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Engine counters per span, from Spark's public listener events. */
final class SparkCounters extends SparkListener {

  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var taskMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  }

  final case class JobSpan(id: Int, span: Int, startMs: Double, var endMs: Double)

  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobList = new ConcurrentHashMap[Int, JobSpan]()
  private val rddBlocks = new ConcurrentHashMap[String, Long]()
  @volatile private var rddBytes = 0L
  @volatile private var peakBytes = 0L

  private def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobList.put(e.jobId, JobSpan(e.jobId, span, e.time.toDouble, Double.NaN))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val a = acc(span)
    a.synchronized(a.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobList.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) a.failedTasks += 1
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isInstanceOf[RDDBlockId]) synchronized {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = info.memSize + info.diskSize
      val prev = rddBlocks.getOrDefault(key, 0L)
      if (size == 0) rddBlocks.remove(key) else rddBlocks.put(key, size)
      rddBytes += size - prev
      if (rddBytes > peakBytes) peakBytes = rddBytes
    }
  }

  /** Cached and checkpointed block bytes: the peak since the last call,
    * which restarts the peak from the current residency. */
  def takePeakStorageBytes(): Long = synchronized {
    val p = peakBytes
    peakBytes = rddBytes
    p
  }

  def counters(span: Int): Option[Acc] = Option(accs.get(span))

  def jobs: Seq[JobSpan] = jobList.values().asScala.toSeq.sortBy(_.id)
}

object SparkCounters {
  def register(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters
    sc.addSparkListener(c)
    c
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
}
