package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Work the Spark listener attributed to one span: jobs, completed stages
  * and tasks, executor CPU and GC time, shuffle bytes, and the wall-clock
  * interval of each job (epoch ms).
  */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  val jobIntervals = ArrayBuffer.empty[(Int, Long, Long)]
}

/** A timed call into one layer. `parent` is the enclosing span's id, or 0. */
final class Span(val id: Int, val parent: Int, val layer: String, val name: String,
                 val phase: String, val startNs: Long, val startMs: Long) {
  var endNs = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into each layer, plus Spark work
  * counters from a listener this benchmark registers itself. Spans are
  * kept in memory and written out at the end. When `on` is false, [[span]]
  * is a plain call and records nothing.
  *
  * Jobs are attributed to the span that submitted them through a local
  * property on the SparkContext, which Spark copies to every job the
  * calling thread starts (broadcast-exchange threads included).
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var on = false
  /** Which part of the run new spans belong to: setup, measure or ladder. */
  var phase = "setup"
  private val Key = "perfbench.span"
  val spans = ArrayBuffer.empty[Span]
  private val work = new ConcurrentHashMap[Int, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val started = new java.util.concurrent.atomic.AtomicLong()
  private val ended = new java.util.concurrent.atomic.AtomicLong()
  private var stack: List[Span] = Nil
  private var nextId = 0

  sc.addSparkListener(this)

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      nextId += 1
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0), layer, name, phase,
        System.nanoTime(), System.currentTimeMillis())
      val saved = sc.getLocalProperty(Key)
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, saved)
        spans += s
      }
    }

  /** The span most recently closed, to attach call telemetry to. */
  def last: Option[Span] = if (on) spans.lastOption else None

  def workOf(s: Span): Work = {
    val w = work.get(s.id)
    if (w == null) new Work else w
  }

  private def workFor(spanId: Integer): Work =
    work.computeIfAbsent(spanId, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val p = Option(e.properties).flatMap(x => Option(x.getProperty(Key)))
    p.foreach { id =>
      val sid = Integer.valueOf(id.toInt)
      jobSpan.put(e.jobId, sid)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageSpan.put(st, sid))
      val w = workFor(sid)
      w.synchronized { w.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val sid = jobSpan.get(e.jobId)
    if (sid != null) {
      val w = workFor(sid)
      val t0: Long = Option(jobStart.get(e.jobId)).map(_.longValue).getOrElse(e.time)
      w.synchronized { w.jobIntervals += ((e.jobId, t0, e.time)) }
    }
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val sid = stageSpan.get(e.stageInfo.stageId)
    if (sid != null) {
      val w = workFor(sid)
      w.synchronized { w.stages += 1; w.tasks += e.stageInfo.numTasks }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val sid = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (sid != null && m != null) {
      val w = workFor(sid)
      w.synchronized {
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Wait (up to 10 s) until the listener has seen every job end. */
  def drain(): Unit = {
    val until = System.nanoTime() + 10000000000L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < until) {
      Thread.sleep(20)
      if (ended.get() >= started.get()) quiet += 1 else quiet = 0
    }
  }

  /** Span time with none of its jobs running: its self time, since the
    * jobs are its only children that the benchmark does not time itself.
    */
  def driverMs(s: Span): Double = {
    val w = workOf(s)
    val endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
    val iv = w.synchronized(w.jobIntervals.toList)
      .map { case (_, a, b) => (math.max(a, s.startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.ms - covered)
  }

  /** Self time of a benchmark span: its duration minus the part its child
    * spans cover (children never overlap: one client thread).
    */
  def selfMs(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(_.ms).sum
    if (kids > 0) math.max(0.0, s.ms - kids) else driverMs(s)
  }

  /** Write every span, and each span's Spark jobs as child records, as
    * JSON lines.
    */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    try spans.foreach { s =>
      val w = workOf(s)
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.value(v)}""" }.mkString(",")
      out.println(s"""{"span":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","phase":"${s.phase}","start_ms":${s.startMs},"dur_ms":${s.ms},""" +
        s""""self_ms":${selfMs(s)},"jobs":${w.jobs},"stages":${w.stages},""" +
        s""""tasks":${w.tasks},"exec_cpu_ms":${w.cpuNs / 1e6},"gc_ms":${w.gcMs},""" +
        s""""shuffle_bytes":${w.shuffleBytes}${if (attrs.isEmpty) "" else "," + attrs}}""")
      w.synchronized(w.jobIntervals.toList).foreach { case (j, a, b) =>
        out.println(s"""{"span":"job-$j","parent":${s.id},"layer":"spark",""" +
          s""""name":"job","start_ms":$a,"dur_ms":${b - a}}""")
      }
    }
    finally out.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case other => other.toString
  }
}

/** Order statistics over latency samples. */
object Stats {
  def sorted(xs: Iterable[Double]): Array[Double] = { val a = xs.toArray; java.util.Arrays.sort(a); a }

  /** Percentile of sorted samples, interpolating linearly between ranks. */
  def pct(s: Array[Double], p: Double): Double =
    if (s.isEmpty) Double.NaN
    else {
      val pos = p / 100 * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.length - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Iterable[Double]): Double = pct(sorted(xs), 50)

  /** The highest percentile (to 0.1) with at least 10 samples above it,
    * never below the median and never above p95: (percentile, value,
    * samples above it). Past p95, a run of thousands of sub-millisecond
    * calls ranks the host's scheduling stalls, not the program: its p99
    * moved by more than half between runs of the same code.
    */
  def tail(xs: Iterable[Double]): (Double, Double, Int) = {
    val s = sorted(xs)
    val n = s.length
    def above(q: Double) = n - 1 - math.floor(q / 100 * (n - 1)).toInt
    var p = math.min(95.0, math.floor(1000.0 * (n - 10) / math.max(1, n - 1)) / 10)
    while (p > 50 && above(p) < 10) p = math.round(p * 10 - 1) / 10.0
    if (p < 50) p = 50
    (p, pct(s, p), above(p))
  }
}
