package graft.core

import graft.operators.Kernels

/** In-process HNSW graph index (Malkov & Yashunin 2016,
  * arXiv:1603.09320) over a packed float32 matrix — the serving-side
  * answer to the reference's FAISS-HNSW headline (pico_vdb.py:169-212,
  * M=32 efC=40: ~0.4 ms/query, build 50-110 s). IVF recall on
  * STRUCTURE-FREE embeddings is bounded by probed mass (SCALING.md
  * "ANN"); a navigable-small-world graph has no such bound, which is
  * exactly the one capability gap the IVF analog left open. HNSW's
  * pointer-chasing build is inherently sequential-ish and does NOT map
  * to Spark's execution model (SURVEY §4.3) — so it lives here, on the
  * driver-local serving replica, where the reference's own numbers
  * live, and the DISTRIBUTED store keeps the IVF analog for batch.
  *
  * Deviations from the paper, all deliberate:
  *  - similarity-max (inner product over unit vectors) instead of
  *    distance-min — same traversal with comparisons flipped;
  *  - deterministic level assignment: the level RNG is seeded per
  *    node index, so the same input builds the same graph (spec-pinned
  *    determinism; the paper's global RNG makes builds run-dependent);
  *  - frozen-graph batched construction: nodes insert in fixed batches
  *    whose candidate searches run in PARALLEL against the graph as of
  *    the batch start (read-only), then links apply sequentially in
  *    node order. Batch members don't see each other during search —
  *    the standard bulk-build approximation; determinism is preserved
  *    and the measured recall columns carry the effect. The first
  *    `seedSequential` nodes insert one-by-one so early graphs are
  *    connected.
  *  - neighbor selection: the paper's distance-diversity heuristic
  *    (select a candidate only if it is closer to the query than to
  *    every already-selected neighbor) on layer 0, simple top-M above.
  *
  * A graph is immutable once built. Growth is a build that starts from
  * an existing graph ([[Hnsw.build]]'s `start`): the new nodes run the
  * same insertion loop against a copy of its lists, so queries still
  * reading the old graph never see a half-linked node. Deletion is not
  * the graph's business: the sharded store tombstones nodes and filters
  * them at result collection ([[searchFiltered]]).
  */
final class Hnsw private (
    val dim: Int,
    private val data: Array[Float], // row-major, node i at offset i*dim
    val n: Int,
    private val m: Int,
    private val levels: Array[Int],
    // nbrs(node)(layer) = packed neighbor ids, count in nbrCnt
    private val nbrs: Array[Array[Array[Int]]],
    private val nbrCnt: Array[Array[Int]],
    private val entry: Int,
    private val maxLevel: Int) extends Serializable {

  private def sim(q: Array[Float], node: Int): Double =
    Kernels.dotPackedF(q, data, node * dim).toDouble

  /** Best-first beam search on one layer (Algorithm 2, sim-max). */
  private def searchLayer(q: Array[Float], ep: Int, epSim: Double,
                          ef: Int, layer: Int): (Array[Int], Array[Double]) = {
    val visited = new java.util.BitSet(n)
    // candidates: max-heap by sim; results: min-heap by sim, size <= ef
    val cand = new java.util.PriorityQueue[(Double, Int)](
      (a, b) => java.lang.Double.compare(b._1, a._1))
    val res = new java.util.PriorityQueue[(Double, Int)](
      (a, b) => java.lang.Double.compare(a._1, b._1))
    visited.set(ep)
    cand.add((epSim, ep))
    res.add((epSim, ep))
    while (!cand.isEmpty) {
      val c = cand.poll()
      if (c._1 < res.peek()._1 && res.size >= ef) {
        cand.clear()
      } else {
        val ns = nbrs(c._2)(layer)
        val cnt = nbrCnt(c._2)(layer)
        var i = 0
        while (i < cnt) {
          val e = ns(i)
          if (!visited.get(e)) {
            visited.set(e)
            val se = sim(q, e)
            if (res.size < ef || se > res.peek()._1) {
              cand.add((se, e))
              res.add((se, e))
              if (res.size > ef) res.poll()
            }
          }
          i += 1
        }
      }
    }
    val out = new Array[(Double, Int)](res.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = res.poll(); i -= 1 } // best-first order
    (out.map(_._2), out.map(_._1))
  }

  /** Greedy descent through the upper layers to a layer-0 entry. */
  private def descend(q: Array[Float], toLayer: Int): (Int, Double) = {
    var ep = entry
    var eps = sim(q, ep)
    var lc = maxLevel
    while (lc > toLayer) {
      var improved = true
      while (improved) {
        improved = false
        val ns = nbrs(ep)(lc)
        val cnt = nbrCnt(ep)(lc)
        var i = 0
        while (i < cnt) {
          val s = sim(q, ns(i))
          if (s > eps) { eps = s; ep = ns(i); improved = true }
          i += 1
        }
      }
      lc -= 1
    }
    (ep, eps)
  }

  /** Top-k by cosine over unit vectors. `ef` is the layer-0 beam
    * (efSearch); recall grows with it, k <= ef enforced.
    */
  def search(q: Array[Float], k: Int, ef: Int = 64): Array[(Int, Double)] = {
    require(q.length == dim, s"query dim ${q.length} != index dim $dim")
    if (n == 0) return Array.empty
    val (ep, eps) = descend(q, 0)
    val (ids, sims) = searchLayer(q, ep, eps, math.max(ef, k), 0)
    ids.zip(sims).take(k)
  }

  /** Membership-filtered top-k (round 17) — the FAISS
    * `SearchParametersHNSW.sel` / hnswlib `BaseFilterFunctor` shape:
    * the filter applies at RESULT collection, never during graph
    * traversal (skipping non-members while walking would disconnect
    * the navigable small world exactly where the filter is selective
    * — the known filtered-HNSW failure mode). The layer-0 beam keeps
    * expanding until `ef` ACCEPTED nodes are held and the best
    * frontier candidate scores below the worst of them, so cost grows
    * naturally as selectivity drops — the graph analog of
    * IvfIndex.searchMergedAllowed's probe widening. May return fewer
    * than k hits when fewer than k accepted nodes are reachable at
    * this beam; callers widen ef / fall back to the exact member scan
    * ([[graft.operators.HnswStore.scoreShardMember]] owns that loop).
    */
  def searchFiltered(q: Array[Float], k: Int, ef: Int,
                     accept: Int => Boolean): Array[(Int, Double)] = {
    require(q.length == dim, s"query dim ${q.length} != index dim $dim")
    if (n == 0) return Array.empty
    val (ep, eps) = descend(q, 0)
    val efk = math.max(ef, k)
    val visited = new java.util.BitSet(n)
    // frontier: max-heap over ALL visited nodes; results: min-heap of
    // ACCEPTED nodes only, size <= efk — termination reads results, so
    // a selective filter keeps the walk alive until enough members
    // surface (or the frontier exhausts the component)
    val cand = new java.util.PriorityQueue[(Double, Int)](
      (a, b) => java.lang.Double.compare(b._1, a._1))
    val res = new java.util.PriorityQueue[(Double, Int)](
      (a, b) => java.lang.Double.compare(a._1, b._1))
    visited.set(ep)
    cand.add((eps, ep))
    if (accept(ep)) res.add((eps, ep))
    while (!cand.isEmpty) {
      val c = cand.poll()
      if (res.size >= efk && c._1 < res.peek()._1) {
        cand.clear()
      } else {
        val ns = nbrs(c._2)(0)
        val cnt = nbrCnt(c._2)(0)
        var i = 0
        while (i < cnt) {
          val e = ns(i)
          if (!visited.get(e)) {
            visited.set(e)
            val se = sim(q, e)
            if (res.size < efk || se > res.peek()._1) {
              cand.add((se, e))
              if (accept(e)) {
                res.add((se, e))
                if (res.size > efk) res.poll()
              }
            }
          }
          i += 1
        }
      }
    }
    val out = new Array[(Double, Int)](res.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = res.poll(); i -= 1 } // best-first order
    out.take(k).map { case (s, id) => (id, s) }
  }

  /** [[searchFiltered]] with the walk's similarity reads taken from an
    * INT8-quantized copy of the node matrix (round 18 — the graph half
    * of the hnsw-filtered+q8 composition): `codes` is the row-major
    * byte matrix (`round(v/scale)`, the [[Q8Block]] layout), `scales`
    * the per-row dequantization factors. Identical traversal, entry
    * descent, result-collection filtering and termination rule — only
    * `sim` changes, so DRAM traffic during the beam drops 4× while the
    * topology (built on fp32 rows) keeps its navigability. Returned
    * scores are the APPROXIMATE int8 similarities — callers rescore
    * the survivors against the fp32 slab
    * ([[graft.operators.HnswStore.scoreShardMemberQ8]] owns that), the
    * same candidate-generation/rescore split as every quantized tier.
    * The underfill contract is unchanged: fewer than k hits ⟹ the
    * entry component is exhausted (the [[searchFiltered]] proof — the
    * quantized sims reorder the walk but never terminate it early
    * while fewer than `ef` accepted nodes are held).
    */
  def searchFilteredQ8(q: Array[Float], k: Int, ef: Int,
                       accept: Int => Boolean,
                       codes: Array[Byte],
                       scales: Array[Float]): Array[(Int, Double)] = {
    require(q.length == dim, s"query dim ${q.length} != index dim $dim")
    if (n == 0) return Array.empty
    @inline def simQ(node: Int): Double =
      Kernels.dotQ8F(q, codes, node * dim).toDouble * scales(node)
    // greedy descent on int8 sims (descend() reads the fp32 matrix)
    var ep = entry
    var eps = simQ(ep)
    var lc = maxLevel
    while (lc > 0) {
      var improved = true
      while (improved) {
        improved = false
        val ns = nbrs(ep)(lc)
        val cnt = nbrCnt(ep)(lc)
        var i = 0
        while (i < cnt) {
          val s = simQ(ns(i))
          if (s > eps) { eps = s; ep = ns(i); improved = true }
          i += 1
        }
      }
      lc -= 1
    }
    val efk = math.max(ef, k)
    val visited = new java.util.BitSet(n)
    val cand = new java.util.PriorityQueue[(Double, Int)](
      (a, b) => java.lang.Double.compare(b._1, a._1))
    val res = new java.util.PriorityQueue[(Double, Int)](
      (a, b) => java.lang.Double.compare(a._1, b._1))
    visited.set(ep)
    cand.add((eps, ep))
    if (accept(ep)) res.add((eps, ep))
    while (!cand.isEmpty) {
      val c = cand.poll()
      if (res.size >= efk && c._1 < res.peek()._1) {
        cand.clear()
      } else {
        val ns = nbrs(c._2)(0)
        val cnt = nbrCnt(c._2)(0)
        var i = 0
        while (i < cnt) {
          val e = ns(i)
          if (!visited.get(e)) {
            visited.set(e)
            val se = simQ(e)
            if (res.size < efk || se > res.peek()._1) {
              cand.add((se, e))
              if (accept(e)) {
                res.add((se, e))
                if (res.size > efk) res.poll()
              }
            }
          }
          i += 1
        }
      }
    }
    val out = new Array[(Double, Int)](res.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = res.poll(); i -= 1 } // best-first order
    out.take(k).map { case (s, id) => (id, s) }
  }

  /** INT8 copy of the node matrix for [[searchFilteredQ8]] — the
    * [[Q8Store]] per-row layout (`round(v/scale)`, scale = maxAbs/127,
    * all-zero rows code to 0). Computed on demand; the OWNER decides
    * the caching policy (the serving replica holds one copy, the
    * sharded store derives a persisted sibling RDD).
    */
  def quantizeNodes(): (Array[Byte], Array[Float]) = {
    val codes = new Array[Byte](n * dim)
    val scales = new Array[Float](n)
    var r = 0
    while (r < n) {
      val off = r * dim
      var maxAbs = 0f
      var i = 0
      while (i < dim) {
        val a = math.abs(data(off + i))
        if (a > maxAbs) maxAbs = a
        i += 1
      }
      if (maxAbs > 0f) {
        val scale = maxAbs / 127f
        scales(r) = scale
        val inv = 1f / scale
        var j = 0
        while (j < dim) {
          val c = math.round(data(off + j) * inv)
          codes(off + j) = (if (c > 127) 127 else if (c < -127) -127 else c).toByte
          j += 1
        }
      }
      r += 1
    }
    (codes, scales)
  }

  /** Serialize the graph TOPOLOGY (levels / neighbor lists / entry) —
    * plain int arrays, no vectors: the caller owns the packed matrix
    * and re-supplies it to [[Hnsw.readGraph]] on load. This is the
    * persistence half of the reference's save-the-index-beside-the-
    * store contract (pico_vdb.py:260-283, 347, 362 — FAISS's own
    * serialization there; ours is this explicit int-array format).
    */
  private[graft] def writeGraph(out: java.io.DataOutputStream): Unit = {
    out.writeInt(m)
    out.writeInt(n)
    out.writeInt(entry)
    out.writeInt(maxLevel)
    var i = 0
    while (i < n) { out.writeInt(levels(i)); i += 1 }
    i = 0
    while (i < n) {
      var l = 0
      while (l <= levels(i)) {
        val cnt = nbrCnt(i)(l)
        out.writeInt(cnt)
        val ns = nbrs(i)(l)
        var j = 0
        while (j < cnt) { out.writeInt(ns(j)); j += 1 }
        l += 1
      }
      i += 1
    }
  }
}

object Hnsw {

  /** Graphs built in this JVM, fresh or extended from a start graph —
    * test instrumentation for the persistence contract ("a load must
    * NOT rebuild") and the incremental refresh's build count: local-mode
    * specs snapshot it around a save/load cycle or a refresh. Loading a
    * graph and tombstoning nodes build nothing and do not count. In
    * local[*] every executor build increments it; on a real cluster it
    * only observes driver-side builds (specs are local-mode by
    * construction).
    */
  private val buildCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def buildsInJvm: Long = buildCounter.get()

  /** Reconstruct a graph written by [[Hnsw.writeGraph]] over the
    * caller-supplied packed matrix (which must be the SAME rows in the
    * same order the graph was built on — the shard codec guarantees
    * it by persisting slab and topology together). Deserialized
    * neighbor arrays are sized to their counts; a build that grows a
    * loaded graph copies them into cap-sized arrays first, so the
    * loaded graph itself is never linked in place.
    */
  private[graft] def readGraph(in: java.io.DataInputStream,
                               data: Array[Float], dim: Int): Hnsw = {
    val m = in.readInt()
    val n = in.readInt()
    val entry = in.readInt()
    val maxLevel = in.readInt()
    require(n >= 0 && dim > 0 && data.length >= n * dim,
      s"hnsw graph/matrix mismatch: n=$n dim=$dim floats=${data.length}")
    val levels = new Array[Int](n)
    var i = 0
    while (i < n) { levels(i) = in.readInt(); i += 1 }
    val nbrs = new Array[Array[Array[Int]]](n)
    val nbrCnt = new Array[Array[Int]](n)
    i = 0
    while (i < n) {
      val ls = levels(i) + 1
      nbrs(i) = new Array[Array[Int]](ls)
      nbrCnt(i) = new Array[Int](ls)
      var l = 0
      while (l < ls) {
        val cnt = in.readInt()
        require(cnt >= 0 && cnt <= math.max(2 * m, 1),
          s"corrupt hnsw graph: neighbor count $cnt at node $i layer $l")
        val ns = new Array[Int](cnt)
        var j = 0
        while (j < cnt) { ns(j) = in.readInt(); j += 1 }
        nbrs(i)(l) = ns
        nbrCnt(i)(l) = cnt
        l += 1
      }
      i += 1
    }
    new Hnsw(dim, data, n, m, levels, nbrs, nbrCnt, entry, maxLevel)
  }

  /** The auto build-parallelism resolution, spec-pinned (round 20,
    * VERDICT r19 next-round #7): explicit wins; otherwise INSIDE a
    * Spark task the build gets exactly the task's CPU allocation
    * (`TaskContext.cpus`, usually 1 → sequential — so the per-slab
    * builds in [[graft.operators.HnswStore.fromRDD]] and the streaming
    * segment sink never oversubscribe the executor with
    * tasks × pool-width threads); on the driver it gets the common
    * pool's width — which is how [[graft.core.LocalReplica.buildHnsw]]
    * and the bench's serving build inherit the round-19 parallel
    * commit without passing anything.
    */
  def resolveBuildParallelism(parallelism: Int): Int =
    if (parallelism > 0) parallelism
    else Option(org.apache.spark.TaskContext.get())
      .map(tc => math.max(1, tc.cpus()))
      .getOrElse(math.max(1,
        java.util.concurrent.ForkJoinPool.getCommonPoolParallelism))

  /** Build over a packed matrix; `ids` row i lives at `data(i*dim)`.
    * Deterministic for a fixed input order. `batch` > 1 runs each
    * batch's candidate searches in parallel against the frozen graph.
    *
    * `start` grows an existing graph instead: its nodes are rows
    * `0 until start.n` of `data` (same rows, same order) and only rows
    * `start.n until n` are inserted, by the same loop a fresh build
    * runs (a fresh build is the empty start). Every new node draws its
    * level from its node index, as in a fresh build. The start graph's
    * neighbor lists are copied into cap-sized arrays before any link
    * lands, so `start` is never mutated.
    *
    * `parallelism` bounds the search threads: <= 0 is auto — inside a
    * Spark task it is the task's CPU allocation (`TaskContext.cpus`,
    * usually 1 → sequential, so per-slab builds in
    * [[graft.operators.HnswStore.fromRDD]] stay within their task's
    * share instead of `tasks x pool-width` oversubscribing the
    * JVM-wide common pool — ADVICE r13); on the driver it is the
    * common pool's width. Parallel searches run on a DEDICATED
    * ForkJoinPool (never the common pool, which the serving replica's
    * query fan-out shares). The graph is parallelism-independent:
    * batch searches are read-only and links apply in node order.
    */
  def build(data: Array[Float], n: Int, dim: Int,
            m: Int = 16, efConstruction: Int = 100,
            batch: Int = 256, seedSequential: Int = 1024,
            parallelism: Int = 0, start: Option[Hnsw] = None): Hnsw = {
    require(n >= 0 && dim > 0 && data.length >= n * dim)
    val g = start.orNull
    require(g == null || (g.dim == dim && g.m == m && g.n <= n),
      s"start graph (n=${g.n}, dim=${g.dim}, m=${g.m}) cannot grow to " +
        s"(n=$n, dim=$dim, m=$m)")
    val n0 = if (g == null) 0 else g.n
    val mMax = m
    val mMax0 = 2 * m
    val mL = 1.0 / math.log(m.toDouble)
    val levels = Array.tabulate(n) { i =>
      if (i < n0) g.levels(i)
      else {
        // per-node deterministic level draw
        val r = new java.util.Random(i * 0x9E3779B97F4A7C15L + 0x2545F4914F6CDD1DL)
        val u = math.max(r.nextDouble(), 1e-12)
        math.min((-math.log(u) * mL).toInt, 24)
      }
    }
    val nbrs = Array.tabulate(n)(i =>
      Array.tabulate(levels(i) + 1) { l =>
        val ns = new Array[Int](if (l == 0) mMax0 else mMax)
        if (i < n0) System.arraycopy(g.nbrs(i)(l), 0, ns, 0, g.nbrCnt(i)(l))
        ns
      })
    val nbrCnt = Array.tabulate(n)(i =>
      if (i < n0) g.nbrCnt(i).clone() else new Array[Int](levels(i) + 1))
    var entry = if (g == null) -1 else g.entry
    var maxLevel = if (g == null) -1 else g.maxLevel

    def simIJ(a: Int, q: Array[Float]): Double =
      Kernels.dotPackedF(q, data, a * dim).toDouble
    def vec(i: Int): Array[Float] =
      java.util.Arrays.copyOfRange(data, i * dim, (i + 1) * dim)

    // read-only beam search against the CURRENT graph state (used both
    // sequentially and from the frozen-batch parallel phase — the
    // batch phase never mutates while searches run)
    def searchLayerB(q: Array[Float], ep: Int, ef: Int,
                     layer: Int): Array[(Double, Int)] = {
      val visited = new java.util.BitSet(n)
      val cand = new java.util.PriorityQueue[(Double, Int)](
        (a, b) => java.lang.Double.compare(b._1, a._1))
      val res = new java.util.PriorityQueue[(Double, Int)](
        (a, b) => java.lang.Double.compare(a._1, b._1))
      val eps = simIJ(ep, q)
      visited.set(ep); cand.add((eps, ep)); res.add((eps, ep))
      while (!cand.isEmpty) {
        val c = cand.poll()
        if (c._1 < res.peek()._1 && res.size >= ef) cand.clear()
        else {
          val ns = nbrs(c._2)(layer); val cnt = nbrCnt(c._2)(layer)
          var i = 0
          while (i < cnt) {
            val e = ns(i)
            if (!visited.get(e)) {
              visited.set(e)
              val se = simIJ(e, q)
              if (res.size < ef || se > res.peek()._1) {
                cand.add((se, e)); res.add((se, e))
                if (res.size > ef) res.poll()
              }
            }
            i += 1
          }
        }
      }
      val out = new Array[(Double, Int)](res.size)
      var i = out.length - 1
      while (i >= 0) { out(i) = res.poll(); i -= 1 }
      out // descending sim
    }

    def greedyDescend(q: Array[Float], toLayer: Int): Int = {
      var ep = entry
      var eps = simIJ(ep, q)
      var lc = maxLevel
      while (lc > toLayer) {
        var improved = true
        while (improved) {
          improved = false
          val ns = nbrs(ep)(lc); val cnt = nbrCnt(ep)(lc)
          var i = 0
          while (i < cnt) {
            val s = simIJ(ns(i), q)
            if (s > eps) { eps = s; ep = ns(i); improved = true }
            i += 1
          }
        }
        lc -= 1
      }
      ep
    }

    // paper Algorithm 4 (sim-max form) on layer 0; simple top-M above
    def selectNeighbors(q: Array[Float], cands: Array[(Double, Int)],
                        mSel: Int, diversify: Boolean): Array[Int] = {
      if (!diversify || cands.length <= mSel) return cands.take(mSel).map(_._2)
      val sel = new scala.collection.mutable.ArrayBuffer[Int](mSel)
      var i = 0
      while (i < cands.length && sel.length < mSel) {
        val (sq, c) = cands(i)
        val cv = vec(c)
        var ok = true
        var j = 0
        while (ok && j < sel.length) {
          if (simIJ(sel(j), cv) > sq) ok = false // closer to a selected than to q
          j += 1
        }
        if (ok) sel += c
        i += 1
      }
      // backfill with the best rejected if diversity starved the list
      i = 0
      while (sel.length < mSel && i < cands.length) {
        if (!sel.contains(cands(i)._2)) sel += cands(i)._2
        i += 1
      }
      sel.toArray
    }

    def link(a: Int, b: Int, layer: Int): Unit = {
      val cap = if (layer == 0) mMax0 else mMax
      val ns = nbrs(a)(layer)
      val cnt = nbrCnt(a)(layer)
      if (cnt < cap) {
        ns(cnt) = b; nbrCnt(a)(layer) = cnt + 1
      } else {
        // prune: keep the cap best by sim to a (diversified on layer 0)
        val av = vec(a)
        val all = new Array[(Double, Int)](cnt + 1)
        var i = 0
        while (i < cnt) { all(i) = (simIJ(ns(i), av), ns(i)); i += 1 }
        all(cnt) = (simIJ(b, av), b)
        java.util.Arrays.sort(all,
          (x: (Double, Int), y: (Double, Int)) =>
            java.lang.Double.compare(y._1, x._1))
        val kept = selectNeighbors(av, all, cap, diversify = layer == 0)
        System.arraycopy(kept, 0, ns, 0, kept.length)
        nbrCnt(a)(layer) = kept.length
      }
    }

    // per-node insertion given precomputed layer-candidate lists.
    // Link layers come from perLayer's OWN length, not the live
    // maxLevel: candidatesFor sized it under the maxLevel at search
    // time, and a batch-mate raising maxLevel in between would
    // otherwise index past the array (review r13: two same-batch
    // nodes both drawing levels above the frozen max).
    def applyInsert(i: Int,
                    perLayer: Array[Array[(Double, Int)]]): Unit = {
      val l = levels(i)
      var lc = perLayer.length - 1
      while (lc >= 0) {
        val w = perLayer(lc)
        val sel = selectNeighbors(vec(i), w, m, diversify = lc == 0)
        var j = 0
        while (j < sel.length) {
          val nb = sel(j)
          if (nb != i) {
            link(i, nb, lc)
            link(nb, i, lc)
          }
          j += 1
        }
        lc -= 1
      }
      if (l > maxLevel) { maxLevel = l; entry = i }
    }

    // candidate search for node i against the current graph
    def candidatesFor(i: Int): Array[Array[(Double, Int)]] = {
      val q = vec(i)
      val l = levels(i)
      val out = new Array[Array[(Double, Int)]](math.min(l, maxLevel) + 1)
      var ep = greedyDescend(q, math.min(l, maxLevel))
      var lc = math.min(l, maxLevel)
      while (lc >= 0) {
        val w = searchLayerB(q, ep, efConstruction, lc)
        out(lc) = w
        ep = w(0)._2
        lc -= 1
      }
      out
    }

    // full insertion PLAN for node i: candidate search + neighbor
    // selection, both read-only against the frozen graph (round 19 —
    // selectNeighbors reads only the packed matrix and the candidate
    // list, so the diversification dot products move off the
    // sequential commit path into the parallel batch phase). Returns
    // the selected neighbor ids per layer, top layer last.
    def planFor(i: Int): Array[Array[Int]] = {
      val q = vec(i)
      val cands = candidatesFor(i)
      val out = new Array[Array[Int]](cands.length)
      var lc = cands.length - 1
      while (lc >= 0) {
        out(lc) = selectNeighbors(q, cands(lc), m, diversify = lc == 0)
        lc -= 1
      }
      out
    }

    var i = n0
    // sequential seed phase — at least ONE node: the batch phase
    // descends from `entry`, and seedSequential=0 would leave it -1
    // (negative packed-matrix offset on the first candidate search)
    val seedN = math.min(math.max(seedSequential, 1), n)
    while (i < seedN) {
      if (entry == -1) { entry = i; maxLevel = levels(i) }
      else applyInsert(i, candidatesFor(i))
      i += 1
    }
    // frozen-graph batches: parallel read-only searches, sequential
    // links. A batch never exceeds the CURRENT graph size: batch
    // members can't see each other during search, so inserting more
    // nodes than the frozen graph holds orphans most of them — their
    // candidate set is the tiny frozen graph, whose nodes prune the
    // flood of incoming links. Doubling up to `batch` restores
    // connectivity for small seeds; a no-op at the default
    // seedSequential (graph is already >= batch when batching starts).
    val par = resolveBuildParallelism(parallelism)
    val pool =
      if (par > 1) new java.util.concurrent.ForkJoinPool(par) else null
    try {
      while (i < n) {
        val end = math.min(i + math.max(1, math.min(batch, i)), n)
        val plans = new Array[Array[Array[Int]]](end - i)
        val start = i
        if (pool == null) {
          var j = start
          while (j < end) { plans(j - start) = planFor(j); j += 1 }
        } else {
          val tasks = Array.tabulate(end - start) { off =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = plans(off) = planFor(start + off)
            })
          }
          tasks.foreach(_.join())
        }
        // Commit (round 19 — the serial half of the build used to
        // dominate wall time at dim 1024: selection diversification +
        // back-link prunes are all dot products). Decomposed into
        // phases that are each conflict-free, producing a graph
        // BIT-IDENTICAL to the one the sequential commit built:
        //
        //  1. own lists: sel(j) ⊆ frozen graph ⟹ never contains a
        //     batch-mate, so no other batch node ever touches node j's
        //     lists — plain array writes, no prune possible (|sel| <= m
        //     <= cap).
        //  2. back-links: every target nb is a PRE-batch node (sel came
        //     from the frozen graph), so targets are disjoint from the
        //     own-lists above. link(nb, j) reads/mutates only nb's own
        //     per-layer list (+ the immutable matrix), so grouping ops
        //     by target and applying each target's ops in the
        //     sequential order — node asc, layer desc, selection
        //     order — gives every target exactly the op subsequence the
        //     sequential commit gave it ⟹ the same final list, while
        //     distinct targets prune in parallel.
        //  3. entry/maxLevel: node-order fold, as before.
        var j = start
        while (j < end) {
          val sels = plans(j - start)
          var lc = sels.length - 1
          while (lc >= 0) {
            val sel = sels(lc)
            val own = nbrs(j)(lc)
            var c = 0
            var t = 0
            while (t < sel.length) {
              if (sel(t) != j) { own(c) = sel(t); c += 1 }
              t += 1
            }
            nbrCnt(j)(lc) = c
            lc -= 1
          }
          j += 1
        }
        // back-link ops grouped by target; (node, layer) packed into a
        // long (layer <= 24 fits in 6 bits) to keep the group lists
        // allocation-light
        val byTarget =
          new java.util.LinkedHashMap[Integer, java.util.ArrayList[java.lang.Long]]()
        j = start
        while (j < end) {
          val sels = plans(j - start)
          var lc = sels.length - 1
          while (lc >= 0) {
            val sel = sels(lc)
            var t = 0
            while (t < sel.length) {
              val nb = sel(t)
              if (nb != j) {
                var ops = byTarget.get(nb)
                if (ops == null) {
                  ops = new java.util.ArrayList[java.lang.Long]()
                  byTarget.put(nb, ops)
                }
                ops.add((j.toLong << 6) | lc)
              }
              t += 1
            }
            lc -= 1
          }
          j += 1
        }
        def applyTarget(nb: Int, ops: java.util.ArrayList[java.lang.Long]): Unit = {
          var o = 0
          while (o < ops.size()) {
            val op = ops.get(o).longValue()
            link(nb, (op >>> 6).toInt, (op & 63L).toInt)
            o += 1
          }
        }
        if (pool == null || byTarget.size() < 2) {
          byTarget.forEach((nb, ops) => applyTarget(nb, ops))
        } else {
          val entries = new java.util.ArrayList(byTarget.entrySet())
          val chunk = math.max(1, (entries.size() + par - 1) / par)
          val tasks = (0 until entries.size() by chunk).map { lo =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = {
                var e = lo
                val hi = math.min(lo + chunk, entries.size())
                while (e < hi) {
                  val ent = entries.get(e)
                  applyTarget(ent.getKey.intValue(), ent.getValue)
                  e += 1
                }
              }
            })
          }
          tasks.foreach(_.join())
        }
        j = start
        while (j < end) {
          if (levels(j) > maxLevel) { maxLevel = levels(j); entry = j }
          j += 1
        }
        i = end
      }
    } finally if (pool != null) pool.shutdown()
    buildCounter.incrementAndGet()
    new Hnsw(dim, data, n, m, levels, nbrs, nbrCnt, entry, maxLevel)
  }
}
