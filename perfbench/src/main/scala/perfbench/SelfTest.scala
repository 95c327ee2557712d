package perfbench

/** The benchmark's self-tests: the oracle on hand-made cases, a
  * seconds-long tiny run of every workload (and a traced one), and one
  * planted fault per checker, which must be counted as a failure.
  * Run with `python3 perfbench/run.py --selftest`; exits non-zero when a
  * test fails.
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"# ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    args.sliding(2).collectFirst { case Array("--work", d) => d }
      .foreach(d => Main.workDir = new java.io.File(d))
    oracle()
    val spark = Main.session()
    def tinyRun(w: String, trace: Boolean = false, plant: String = ""): Result =
      Main.runOnce(spark, Opts(w, 7L, 1.0, trace, tiny = true, warmups = 1, setups = 1, plant = plant))
    var r0: Result = null
    for (w <- Main.Workloads) {
      val r = tinyRun(w)
      r0 = r
      expect(s"$w tiny run is correct", r.correct && r.run.attempted > 0)
      val bad = r.metrics.collect { case (k, (v, _)) if v.isNaN || v <= 0 => k }
      expect(s"$w reports every end-to-end metric above 0 ${bad.mkString(" ")}",
        bad.isEmpty && r.metrics.size == 11)
    }
    val traced = tinyRun("mutate_mixed", trace = true)
    val badLayer = traced.run.layer.collect { case (k, (v, _)) if v.isNaN || v.isInfinite => k }
    expect(s"traced run reports ${traced.run.layer.size} per-layer metrics, all finite " +
      badLayer.mkString(" "), badLayer.isEmpty && traced.run.layer.keySet == Layers.Names.toSet)
    // BENCHMARK.json, when run from a checkout, must list exactly these metrics
    val declared = new java.io.File("BENCHMARK.json")
    if (declared.exists) {
      val text = new String(java.nio.file.Files.readAllBytes(declared.toPath), "UTF-8")
      val names = "\"name\": \"([A-Za-z0-9_.-]+)\"".r.findAllMatchIn(text).map(_.group(1)).toSet
      val missing = (Layers.Names ++ r0.metrics.keys).filterNot(names)
      expect(s"BENCHMARK.json declares every reported metric ${missing.mkString(" ")}", missing.isEmpty)
    }
    for ((w, plant) <- Seq("exact_batch" -> "exact", "mutate_mixed" -> "exact",
        "mutate_mixed" -> "accel", "exact_batch" -> "queryDF", "exact_batch" -> "get",
        "mutate_mixed" -> "get", "mutate_mixed" -> "model", "mutate_mixed" -> "delete",
        "mutate_mixed" -> "count", "mutate_mixed" -> "reload")) {
      val r = tinyRun(w, plant = plant)
      expect(s"$w counts the planted $plant fault (${r.run.failed} of ${r.run.attempted})",
        r.run.failed > 0 && !r.correct)
    }
    println(if (failures == 0) "# selftest passed" else s"# selftest: $failures failed")
    System.out.flush()
    sys.exit(if (failures == 0) 0 else 1)
  }

  /** The oracle on a five-row universe with hand-computed scores. */
  private def oracle(): Unit = {
    val u = new Universe(Array("a", "b", "c", "d", "e"),
      Array(Array(1f, 0f), Array(0.6f, 0.8f), Array(0f, 1f), Array(-1f, 0f), Array(1f, 0f)),
      Array(1, 2, 3, 4, 5), Array(true, true, true, true, false))
    val sc = u.scores(Array(1f, 0f)) // a=1, b=0.6, c=0, d=-1, e=1 (not live)
    val all = Filter.All
    def hits(xs: (String, Double)*) = xs.map { case (i, s) => Hit(i, s) }
    def exact(h: Seq[Hit], k: Int, f: Filter = all) = Truth.check(h, k, u, sc, f, exact = true)
    expect("oracle accepts a true top-2", exact(hits("a" -> 1, "b" -> 0.6), 2).ok)
    expect("oracle rejects a missing top hit", !exact(hits("a" -> 1, "c" -> 0), 2).ok)
    expect("oracle rejects a dead id", !exact(hits("e" -> 1, "a" -> 1), 2).ok)
    expect("oracle rejects a wrong score", !exact(hits("a" -> 1, "b" -> 0.61), 2).ok)
    expect("oracle rejects a duplicate", !exact(hits("a" -> 1, "a" -> 1), 2).ok)
    expect("oracle rejects too few hits", !exact(hits("a" -> 1), 2).ok)
    expect("oracle rejects a filtered-out id",
      !exact(hits("a" -> 1, "b" -> 0.6), 2, Filter("odd", i => u.bucket(i) % 2 == 1)).ok)
    expect("oracle honours better_than",
      exact(hits("a" -> 1, "b" -> 0.6), 3, Filter("bt", _ => true, Some(0.5))).ok)
    val tie = Truth.check(hits("a" -> 0.5), 1, u, Array(0.5, 0.5, 0.5 + 5e-7, -1, 0), all, exact = true)
    expect("oracle treats scores within 1e-6 as ties", tie.ok)
    val acc = Truth.check(hits("a" -> 1, "c" -> 0), 2, u, sc, all, exact = false)
    expect("oracle scores accelerated recall", acc.ok && acc.recall == 0.5)
  }
}
