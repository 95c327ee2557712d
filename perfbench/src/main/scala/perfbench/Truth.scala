package perfbench

/** One returned hit, as the program reported it. */
final case class Hit(id: String, score: Double)

/** The result of checking one answer: `ok` is false when it breaks the
  * contract; `recall` is the share of the true top-k it returned.
  */
final case class Verdict(ok: Boolean, recall: Double, why: String)

/** The rows an answer is checked against, with their raw vectors and
  * double-precision norms. A row is live when `live(i)`.
  */
final class Universe(val ids: Array[String], val vecs: Array[Array[Float]],
                     val bucket: Array[Int], val live: Array[Boolean]) {
  val size: Int = ids.length
  val norms: Array[Double] = vecs.map(v => math.sqrt(Truth.dot(v, v)))
  private val rowIndex = {
    val m = new java.util.HashMap[String, Integer](size * 2)
    var i = 0
    while (i < size) { m.put(ids(i), i); i += 1 }
    m
  }
  def rowOf(id: String): Int = { val r = rowIndex.get(id); if (r == null) -1 else r }

  /** Cosine of `q` against every row, in double precision (the store's
    * zero-vector rule: a zero row scores as the unit vector e0).
    */
  def scores(q: Array[Float]): Array[Double] = {
    val qn = math.sqrt(Truth.dot(q, q))
    Array.tabulate(size) { i =>
      if (norms(i) == 0.0) (if (qn == 0.0) 1.0 else q(0) / qn)
      else if (qn == 0.0) vecs(i)(0) / norms(i)
      else Truth.dot(q, vecs(i)) / (qn * norms(i))
    }
  }

  /** [[scores]] for many queries, spread over the available cores. */
  def scoreMatrix(qs: Array[Array[Float]]): Array[Array[Double]] = {
    val out = new Array[Array[Double]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel()
      .forEach(i => out(i) = scores(qs(i)))
    out
  }
}

object Universe {
  def of(t: Table): Universe =
    new Universe(t.ids, t.vecs, t.bucket, Array.fill(t.size)(true))
}

/** A query's filter, as the benchmark understands it: which rows it lets
  * through and the score threshold, if any.
  */
final case class Filter(name: String, rowOk: Int => Boolean,
                        threshold: Option[Double] = None)

object Filter {
  val All: Filter = Filter("none", _ => true)
}

/** The double-precision oracle every answer is checked against. */
object Truth {
  /** Scores closer than this are ties: either order and either member is right. */
  val TieTol = 1e-6
  /** A reported score must match the recomputed cosine within this. */
  val ScoreTol = 1e-5

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Check one query's hits against `scores` (one per universe row).
    * `exact` answers must be a true top-k up to ties; accelerated ones
    * must have the right form (k hits when at least k rows qualify, live
    * and qualifying ids, true scores) and are scored for recall.
    */
  def check(hits: Seq[Hit], k: Int, u: Universe, scores: Array[Double],
            f: Filter, exact: Boolean): Verdict = {
    val t = f.threshold
    // rows within TieTol of the threshold may be returned or left out
    def strict(i: Int): Boolean =
      u.live(i) && f.rowOk(i) && t.forall(scores(i) >= _ + TieTol)
    def loose(i: Int): Boolean =
      u.live(i) && f.rowOk(i) && t.forall(scores(i) >= _ - TieTol)
    val top = new Array[Double](k) // ascending; the k best loose scores
    java.util.Arrays.fill(top, Double.NegativeInfinity)
    var nStrict = 0
    var nLoose = 0
    var i = 0
    while (i < u.size) {
      if (loose(i)) {
        nLoose += 1
        if (strict(i)) nStrict += 1
        val s = scores(i)
        if (s > top(0)) {
          var j = 0
          while (j + 1 < k && top(j + 1) < s) { top(j) = top(j + 1); j += 1 }
          top(j) = s
        }
      }
      i += 1
    }
    val kth = if (nLoose >= k) top(0) else Double.NegativeInfinity
    val want = math.min(k, nLoose)
    if (hits.size < math.min(k, nStrict) || hits.size > want)
      return Verdict(ok = false, 0.0,
        s"${hits.size} hits where ${math.min(k, nStrict)}..$want qualify")
    val seen = new java.util.HashSet[String]()
    var good = 0
    var prev = Double.PositiveInfinity
    for (h <- hits) {
      val r = u.rowOf(h.id)
      if (r < 0 || !u.live(r)) return Verdict(ok = false, 0.0, s"id ${h.id} is not live")
      if (!seen.add(h.id)) return Verdict(ok = false, 0.0, s"id ${h.id} returned twice")
      if (!loose(r)) return Verdict(ok = false, 0.0, s"id ${h.id} fails the filter ${f.name}")
      if (!(math.abs(h.score - scores(r)) <= ScoreTol))
        return Verdict(ok = false, 0.0, s"id ${h.id} scored ${h.score}, true ${scores(r)}")
      if (h.score > prev + TieTol)
        return Verdict(ok = false, 0.0, s"hits out of order at ${h.id}")
      prev = h.score
      if (scores(r) >= kth - TieTol) good += 1
      else if (exact)
        return Verdict(ok = false, 0.0, s"id ${h.id} (${scores(r)}) is below the k-th score $kth")
    }
    if (exact) {
      // every row clearly inside the top-k must be there
      i = 0
      while (i < u.size) {
        if (strict(i) && scores(i) > kth + TieTol && !seen.contains(u.ids(i)))
          return Verdict(ok = false, 0.0, s"missing ${u.ids(i)} (${scores(i)})")
        i += 1
      }
    }
    Verdict(ok = true, if (want == 0) 1.0 else good.toDouble / want, "")
  }
}
