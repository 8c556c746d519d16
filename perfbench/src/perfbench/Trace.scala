package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** One call into a library layer: name (`<layer>.<call>`), wall interval,
  * parent span and query id, plus the Spark work the listener attributed
  * to it. Counters are written by the listener-bus thread and read only
  * after `Trace.finish` drained the bus. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val queryId: Long, val startNs: Long) {
  var endNs = 0L
  var jobs = 0
  var tasks = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  /** Job wall intervals in epoch milliseconds (listener clock). */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  /** Values the caller measured inside the span (e.g. build stages). */
  val attrs = LinkedHashMap.empty[String, Double]

  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
  def startMs: Double = Trace.epochMs(startNs)
  def endMs: Double = Trace.epochMs(endNs)

  /** Milliseconds of this span covered by its Spark jobs. */
  def sparkMs: Double = Trace.coveredMs(startMs, endMs,
    jobIntervals.map { case (a, b) => (a.toDouble, b.toDouble) }.toSeq)
}

/** In-memory span recorder. Off unless `enable` ran: then `span` only
  * evaluates its body, so untraced runs pay nothing. Jobs are tied to the
  * innermost open span through a Spark local property, which Spark copies
  * into every job the thread submits. */
object Trace {
  val Property = "perfbench.span"

  private val spans = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Span]
  /** Marks the body of an operation chosen to run untraced: spans nested
    * in it are not recorded either. */
  private val Untraced = new Span(-2, "untraced", -1, -1L, 0L)
  @volatile private var sc: SparkContext = _
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  def epochMs(ns: Long): Double = originMs + (ns - originNs) / 1e6

  def enable(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(new SpanListener(id => synchronized(spans(id))))
  }

  /** Runs `body` as a span when tracing is on and `on` is set. */
  def span[T](name: String, queryId: Long = -1L, on: Boolean = true)
             (body: => T): T = {
    val parent = current.get
    if (sc == null || (parent eq Untraced)) return body
    if (!on) {
      current.set(Untraced)
      try return body finally current.set(parent)
    }
    val s = synchronized {
      val s = new Span(spans.size, name, if (parent == null) -1 else parent.id,
        queryId, System.nanoTime())
      spans += s
      s
    }
    val prevProp = sc.getLocalProperty(Property)
    current.set(s)
    sc.setLocalProperty(Property, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Property, prevProp)
      current.set(parent)
    }
  }

  /** `Builder.build`'s stageLog hook: record a stage time on the open span. */
  val stageLog: (String, Double) => Unit = (stage, secs) => {
    val s = current.get
    if (s != null && s.id >= 0) s.attrs(s"stage.$stage") = secs
  }

  /** Records a value the caller measured on the innermost open span. */
  def attr(key: String, value: Double): Unit = {
    val s = current.get
    if (s != null && s.id >= 0) s.attrs(key) = value
  }

  /** Waits for queued listener events, then returns every span. */
  def finish(): Seq[Span] = {
    if (sc == null) return Nil
    BenchBridge.drainListeners(sc)
    synchronized(spans.toList)
  }

  /** Writes every span as one JSON object per line. */
  def writeJsonl(path: String, spans: Seq[Span]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""query_id":${s.queryId},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"jobs":${s.jobs},"tasks":${s.tasks},""" +
        s""""task_cpu_ns":${s.taskCpuNs},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""shuffle_read_bytes":${s.shuffleReadBytes},"spill_bytes":${s.spillBytes},""" +
        s""""output_bytes":${s.outputBytes},"attrs":${Json.obj(s.attrs.toSeq)}}""")
    } finally out.close()
  }

  /** Length of the union of `intervals`, clipped to [from, to]. */
  def coveredMs(from: Double, to: Double, intervals: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = from
    for ((a0, b0) <- intervals.sortBy(_._1)) {
      val a = math.max(a0, reach)
      val b = math.min(b0, to)
      if (b > a) { covered += b - a; reach = b }
    }
    covered
  }
}

/** Attributes jobs, tasks, task CPU, shuffle, spill and output bytes to
  * the span whose id the job carries in its local properties. */
final class SpanListener(spanOf: Int => Span) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Property)))
      .foreach { id =>
        val s = spanOf(id.toInt)
        s.jobs += 1
        jobSpan.put(e.jobId, (s, e.time))
        e.stageIds.foreach(stageSpan.put(_, s))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) =>
      s.jobIntervals += ((t0, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      s.tasks += 1
      s.taskCpuNs += m.executorCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}
