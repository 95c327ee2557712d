package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark's command line:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  * Prints a human-readable report (lines starting with `#`) and, as the
  * last line, one JSON object with `correct`, `attempted`, `failed` and
  * `metrics`. Exits non-zero, printing no result, when a run cannot
  * complete.
  */
object Main {
  /** How many windows the measured phase is cut into (at most). */
  val Windows = 8
  val Workloads: Seq[String] = Seq("exact_batch", "mutate_mixed")
  var workDir: java.io.File = new java.io.File("perfbench/target/work")

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
        val opts = Opts(a("workload"), a("seed").toLong, a("seconds").toDouble,
          a.getOrElse("trace", "0") == "1")
        require(Workloads.contains(opts.workload), s"unknown workload ${opts.workload}")
        a.get("work").foreach(d => workDir = new java.io.File(d))
        val spark = session()
        println(runOnce(spark, opts).json)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(workDir, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def workload(run: Run): Workload = run.opts.workload match {
    case "exact_batch" => new ExactBatch(run)
    case "mutate_mixed" => new MutateMixed(run)
  }

  /** Set up, measure, check, and (traced) run the layer ladder. */
  def runOnce(spark: SparkSession, opts: Opts): Result = {
    workDir.mkdirs()
    val run = new Run(spark, opts)
    run.tracer.on = opts.trace
    val w = workload(run)
    // uncounted set-ups first: they load classes and compile the JIT and
    // Spark code paths, so the counted set-ups measure the work; with one,
    // the first counted set-up still ran about 30 % slower than the third
    run.tracer.phase = "warmup"
    for (_ <- 0 until math.max(1, opts.warmups)) w.setup()
    run.tracer.phase = "setup"
    for (_ <- 0 until math.max(1, opts.setups)) {
      val t0 = System.nanoTime()
      val (rows, ingestS) = w.setup()
      run.setupS += (System.nanoTime() - t0) / 1e9
      run.ingestRowsPerS += rows / ingestS
    }
    val setupEnd = ManagementFactory.getRuntimeMXBean.getUptime
    w.prepareTruth()
    run.tracer.phase = "warmup"
    w.warm()

    // measured phase: whole cycles until the calls' own time reaches the
    // budget; checking time is not counted. The cycles fall into windows of
    // whole periods and at least budget / Windows call time each; throughput
    // and tails are medians over windows, so a stall in part of the phase
    // does not move them
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    run.tracer.phase = "measure"
    run.measuring = true
    val cpu0 = run.processCpuNs
    val check0 = run.checkCpuNs
    val untimed0 = run.untimedCpuNs
    val budget = (opts.seconds * 1e9).toLong
    var cycles = 0
    var cpuS = 0.0
    var windowStartNs = 0L
    while (cycles < w.fixedCycles || run.opNs < budget) {
      // a traced run traces every other period, so it can tell its own
      // overhead from like cycles
      if (opts.trace) run.tracer.on = cycles / w.period % 2 == 0
      val cycleStartNs = run.opNs
      w.cycle(cycles)
      System.err.println(f"perfbench: cycle $cycles took ${(run.opNs - cycleStartNs) / 1e9}%.3f s of call time")
      cycles += 1
      if (cycles == w.fixedCycles)
        cpuS = (run.processCpuNs - cpu0 - (run.checkCpuNs - check0) - (run.untimedCpuNs - untimed0)) / 1e9
      if (cycles % w.period == 0 && run.opNs - windowStartNs >= budget / Windows) {
        run.window += 1
        windowStartNs = run.opNs
      }
    }
    val measuredOpS = run.opNs / 1e9
    val queryVectors = run.queryVectors
    val windows = run.samples.toSeq.groupBy(_.window).toSeq.sortBy(_._1).map(_._2)
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val peakHeapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    run.tracer.on = opts.trace
    val measureEnd = ManagementFactory.getRuntimeMXBean.getUptime
    w.finish()
    run.measuring = false

    val r = new Result(run, opts)
    val samples = run.samples.filter(s => !opts.trace || !s.traced)
    def lat(cls: String) = samples.filter(_.cls == cls).map(_.ms).toSeq
    r.e2e("setup_s", Stats.median(run.setupS), "s")
    r.e2e("ingest_rows_per_s", Stats.median(run.ingestRowsPerS), "1/s")
    val rates = windows.map(ss => ss.map(_.vectors).sum / ss.map(_.ms).sum * 1000)
    r.e2e("query_vectors_per_s", Stats.median(rates), "1/s")
    r.latency("search", windows, opts.trace)
    r.latency("filtered", windows, opts.trace)
    r.e2e("get_p50_ms", Stats.median(lat("get")), "ms")
    r.e2e("recall_at_10", run.recallAt10, "ratio")
    r.e2e("process_cpu_s", cpuS, "s")
    r.e2e("cached_mb_end", cachedMb, "MB")
    r.note(s"jvm uptime s: setup_done=${setupEnd / 1e3} measure_done=${measureEnd / 1e3}")
    r.note(s"cycles=$cycles windows=${windows.size} measured_call_s=$measuredOpS " +
      s"query_vectors=$queryVectors per_window=${rates.map(x => f"$x%.1f").mkString(",")} " +
      s"setups=${run.setupS.mkString(",")} ingest_rows_per_s=${run.ingestRowsPerS.mkString(",")}")
    samples.groupBy(s => (s.cls, s.kind)).toSeq.sortBy(_._1).foreach { case ((c, k), ss) =>
      r.note(f"calls $c/$k: n=${ss.size} p50=${Stats.median(ss.map(_.ms))}%.3f ms")
    }
    w match {
      case m: MutateMixed => r.note(s"persist_s=${m.persistS}")
      case _ =>
    }
    if (opts.trace) {
      run.tracer.phase = "ladder"
      new Ladder(run, w).runAll()
      run.tracer.drain()
      Layers.report(r, run, w, gcMs, peakHeapMb)
      val out = new java.io.File(workDir, s"trace-${opts.workload}-${opts.seed}.jsonl")
      run.tracer.write(out.toPath)
      r.note(s"spans written to $out")
    }
    r
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") && f.getName.endsWith(".crc")) 0L
    else f.length()
}

/** The metrics of one run and how they print. */
final class Result(val run: Run, opts: Opts) {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = scala.collection.mutable.ArrayBuffer.empty[String]

  def e2e(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def note(s: String): Unit = notes += s

  /** p50 of a latency class over the whole measured phase, and its tail:
    * the median over windows of each window's tail. The tails' percentiles
    * and sample counts are printed beside it. A traced run's latencies
    * count only its untraced cycles.
    */
  def latency(cls: String, windows: Seq[Seq[Sample]], traced: Boolean): Unit = {
    val per = windows.map(_.filter(s => s.cls == cls && !(traced && s.traced)).map(_.ms)).filter(_.nonEmpty)
    val ms = per.flatten
    val tails = per.map(Stats.tail)
    val v = Stats.median(tails.map(_._2))
    e2e(s"${cls}_p50_ms", Stats.median(ms), "ms")
    e2e(s"${cls}_tail_ms", v, "ms")
    note(f"$cls: n=${ms.size} p50=${Stats.median(ms)}%.3f ms tail=$v%.3f ms, the median of " +
      tails.map { case (p, t, above) => f"p$p%.1f(${above} above)=$t%.3f" }.mkString(" ") +
      s"; largest: ${Stats.sorted(ms).takeRight(12).reverse.map(x => f"$x%.3f").mkString(" ")}")
  }

  def correct: Boolean = run.failed == 0

  def json: String = {
    val shown = if (opts.trace) run.layer else metrics
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"# workload=${opts.workload} seed=${opts.seed} seconds=${opts.seconds} trace=${opts.trace}"
    notes.foreach(n => lines += s"# $n")
    metrics.foreach { case (k, (v, u)) => lines += s"# $k = $v $u" }
    if (opts.trace) run.layer.foreach { case (k, (v, u)) => lines += s"# layer $k = $v $u" }
    lines += s"# attempted=${run.attempted} failed=${run.failed} " +
      s"failed_op_share=${run.failed.toDouble / math.max(1, run.attempted)}"
    run.failures.foreach(f => lines += s"# failure: $f")
    val m = shown.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.value(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(", ")
    lines += s"""{"correct": $correct, "attempted": ${math.max(1, run.attempted)}, """ +
      s""""failed": ${run.failed}, "metrics": {$m}}"""
    lines.mkString("\n")
  }
}
