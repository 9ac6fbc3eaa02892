package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call or request. Times are epoch microseconds so they line up
  * with Spark's stage timestamps (epoch milliseconds). `parent` is 0 for a
  * root span; every span of one request shares `request`.
  */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    phase: String, startUs: Long, endUs: Long) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** What Spark ran for one stage, attributed to the span that submitted it. */
final case class StageRec(stageId: Int, span: Long, submitUs: Long, endUs: Long,
    tasks: Int, runS: Double, gcS: Double, shuffleBytes: Long, spillBytes: Long)

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Wall time of [start, end) not covered by any stage interval: planning,
    * collects, file listing and scheduling between stages. Stage intervals
    * are clipped to the call's own window.
    */
  def driverGap(start: Long, end: Long, stages: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(stages.map { case (s, e) => (s.max(start), e.min(end)) })
}

/** Times calls and, when enabled, records them as spans and tags the Spark
  * jobs each call submits with a thread-local property, so a listener can
  * attribute jobs, stages and tasks to the call. Spans stay in memory until
  * the run ends. Untraced, it only times.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000L

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var open: List[Span] = Nil
  private var nextRequest = 1L
  private var _phase = "setup"
  def phase: String = _phase
  /** When the measured phase began; set up is everything before it. */
  var measureStartNs = 0L

  def beginMeasure(): Unit = { _phase = "measure"; measureStartNs = System.nanoTime() }

  val listener: Option[StageLog] =
    if (enabled) { val l = new StageLog; sc.addSparkListener(l); Some(l) } else None

  /** Runs `f` as one span; returns its result and its wall seconds. A span
    * with no open parent starts a new request.
    */
  def span[A](name: String)(f: => A): (A, Double) = {
    val id = nextId; nextId += 1
    val parent = open.headOption
    val request = parent.map(_.request).getOrElse { val r = nextRequest; nextRequest += 1; r }
    val start = Span(id, parent.map(_.id).getOrElse(0L), request, name, phase, nowUs, 0L)
    open = start :: open
    if (enabled) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      open = open.tail
      if (enabled) {
        sc.setLocalProperty(Tracer.SpanKey, open.headOption.map(_.id.toString).orNull)
        spans += start.copy(endUs = nowUs)
      }
    }
  }

  /** Waits for the listener to see every event, then detaches it. */
  def finish(): Unit = listener.foreach { l =>
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(l)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val jobsBySpan = listener.map(_.jobsBySpan).getOrElse(Map.empty[Long, Int])
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""name":"${s.name}","phase":"${s.phase}","start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"jobs":${jobsBySpan.getOrElse(s.id, 0)}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Attributes each Spark job and stage to the span id its submitting thread
  * carried in [[Tracer.SpanKey]].
  */
final class StageLog extends SparkListener {
  val jobSpans = new ConcurrentHashMap[Int, Long]()
  private val stageSpans = new ConcurrentHashMap[Int, Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey))).map(_.toLong).getOrElse(0L)

  def jobsBySpan: Map[Long, Int] =
    jobSpans.values.asScala.groupBy(identity).map { case (k, v) => k -> v.size }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    jobSpans.put(e.jobId, span)
    e.stageIds.foreach(stageSpans.putIfAbsent(_, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSpans.put(e.stageInfo.stageId, spanOf(e.properties))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages.add(StageRec(i.stageId, stageSpans.getOrDefault(i.stageId, 0L),
      i.submissionTime.getOrElse(0L) * 1000L, i.completionTime.getOrElse(0L) * 1000L,
      i.numTasks,
      m.map(_.executorRunTime / 1e3).getOrElse(0.0),
      m.map(_.jvmGCTime / 1e3).getOrElse(0.0),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.diskBytesSpilled).getOrElse(0L)))
  }
}
