package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One timed call in the measured phase. `cls` is the latency class the
  * end-to-end metrics group by: search, filtered, write, get, bulk, maint,
  * persist. `window` is the measured phase's window the call fell in.
  */
final case class Sample(cls: String, kind: String, ms: Double, vectors: Int, traced: Boolean,
                        window: Int)

/** Options of one benchmark run. `tiny` shrinks every workload to a
  * seconds-long smoke size (the self-tests use it); `warmups` and
  * `setups` are how many uncounted and counted set-ups run; `plant` names
  * a checker whose input the run corrupts on purpose, to prove that
  * checker counts the failure.
  */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      tiny: Boolean = false, warmups: Int = 3, setups: Int = 3,
                      plant: String = "")

/** What a run measures and checks. The client is one thread, so nothing
  * here needs locking.
  */
final class Run(val spark: SparkSession, val opts: Opts) {
  val tracer = new Tracer(spark.sparkContext)
  val samples = ArrayBuffer.empty[Sample]
  var measuring = false
  /** The current window of the measured phase (see [[Main.Windows]]). */
  var window = 0
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  /** Recall of each checked query: (answered exactly, recall). */
  val recalls = ArrayBuffer.empty[(Boolean, Double)]
  var opNs = 0L
  var queryVectors = 0L
  var checkCpuNs = 0L
  /** Process CPU time of untimed work inside the measured phase. */
  var untimedCpuNs = 0L
  val setupS = ArrayBuffer.empty[Double]
  val ingestRowsPerS = ArrayBuffer.empty[Double]
  /** Extra per-layer figures a workload or the ladder measured. */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]

  private val threads = ManagementFactory.getThreadMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime
  def threadCpuNs: Long = threads.getCurrentThreadCpuTime

  /** Time one call into `layer`. A call that throws counts as attempted
    * and failed and is not retried; its latency is not sampled.
    */
  def op[T](cls: String, layerName: String, kind: String, vectors: Int = 0)(f: => T): Option[T] = {
    if (measuring) attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Some(tracer.span(layerName, kind)(f))
      catch {
        case NonFatal(e) =>
          fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    val dt = System.nanoTime() - t0
    if (measuring) {
      opNs += dt
      if (r.isDefined) {
        samples += Sample(cls, kind, dt / 1e6, vectors, tracer.on, window)
        queryVectors += vectors
      }
    }
    r
  }

  /** Like [[op]], but a failure aborts the run: set-up cannot go on
    * without its result.
    */
  def must[T](layerName: String, kind: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = op("setup", layerName, kind)(f).getOrElse(
      throw new IllegalStateException(s"set-up call $kind failed: ${failures.lastOption.getOrElse("")}"))
    System.err.println(f"perfbench: $layerName.$kind took ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  /** Run `f` inside the measured phase without timing or counting it; its
    * calls are traced as set-up.
    */
  def untimed[T](f: => T): T = {
    val (m, phase, c0) = (measuring, tracer.phase, processCpuNs)
    measuring = false
    tracer.phase = "setup"
    try f
    finally {
      measuring = m
      tracer.phase = phase
      untimedCpuNs += processCpuNs - c0
    }
  }

  def fail(why: String): Unit = {
    if (measuring) failed += 1
    if (failures.size < 20) failures += why
    if (failures.size <= 5) System.err.println(s"perfbench: FAILED $why")
  }

  /** Check an answer outside every timed region; a failed check counts
    * the call as failed.
    */
  def check(what: String)(body: => Verdict): Unit = {
    val c0 = threadCpuNs
    val v = try body catch { case NonFatal(e) => Verdict(ok = false, 0.0, s"checker threw $e") }
    checkCpuNs += threadCpuNs - c0
    if (!v.ok) fail(s"$what: ${v.why}")
  }

  /** Check the `n` queries of a batch and record their recall. */
  def checkBatch(what: String, n: Int, verdict: Int => Verdict, exact: Boolean): Unit =
    check(what) {
      val vs = (0 until n).map(verdict)
      if (measuring) recalls ++= vs.filter(_.ok).map(v => (exact, v.recall))
      vs.find(!_.ok).getOrElse(Verdict(ok = true, 1.0, ""))
    }

  /** Mean recall of the accelerated answers, or of all answers when the
    * workload has no accelerated ones.
    */
  def recallAt10: Double = {
    val acc = recalls.filter(!_._1)
    val xs = (if (acc.nonEmpty) acc else recalls).map(_._2)
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  }
}

/** A workload: set-up (repeated; the last one serves the measured phase),
  * one cycle of its fixed operation mix, and an optional closing step.
  */
abstract class Workload(val run: Run) {
  def spark: SparkSession = run.spark
  def tiny: Boolean = run.opts.tiny
  def seed: Long = run.opts.seed
  /** Build the stores; returns the rows ingested and the ingest seconds. */
  def setup(): (Long, Double)
  /** Ground truth that does not change during the measured phase. */
  def prepareTruth(): Unit = ()
  /** Untimed calls between set-up and the measured phase: one cycle, so
    * the measured phase starts with every call path compiled.
    */
  def warm(): Unit = cycle(0)
  def cycle(i: Int): Unit
  /** The fixed operation sequence: this many cycles always run, and
    * process_cpu_s is the CPU time they take.
    */
  def fixedCycles: Int = 2
  /** Cycles after which the mix repeats; a window holds whole periods. */
  def period: Int = 1
  def finish(): Unit = ()
  /** Data the layer ladder runs on. */
  def ladderTable: Table
}
