package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index — the batch-native analog of the
  * reference's FAISS HNSW accelerator (pico_vdb.py:169-212, 866-921).
  * HNSW's pointer-chasing graph build is inherently sequential and does
  * not map to Spark's execution model; IVF does: cluster the store into
  * nList centroid partitions, persist `centroid_id` as a partition
  * column, and at query time prune to the nProbe nearest centroids
  * before running the exact top-k inside — the tuning knob nProbe plays
  * the role of efSearch.
  *
  * Build shape at scale: k-means is fit on a bounded DRIVER-SIDE sample
  * (sampleCap rows — FAISS trains its coarse quantizer on a sample the
  * same way), then ONE distributed assignment pass adds `centroid_id`.
  * No MLlib job storm: the round-1 build ran 8 Lloyd iterations as
  * full Spark jobs and cost ~3-5 s on 2 000 rows; this build is a
  * collect + local Lloyd + one narrow map.
  *
  * Maintenance mirrors the reference's lazy/incremental scheme
  * (pico_vdb.py:195-204, 866-921): `assign` re-buckets rows under FIXED
  * centroids (the `add_with_ids`/`remove_ids` analog — cheap); the full
  * refit only happens when the store has drifted past the incremental
  * ratio (VdbStore.AnnIncrRatio, reference default 0.2).
  */
final class IvfIndex(
    val centroids: Array[Array[Double]],
    val assigned: DataFrame, // original columns + centroid_id INT
    val idCol: String,
    val vecCol: String) extends Serializable {

  def nList: Int = centroids.length
  def dim: Int = if (centroids.isEmpty) 0 else centroids(0).length

  /** Packed per-centroid buckets for [[searchPacked]], keyed by the
    * `normalized` flag AND the requested id class (one store shuffle +
    * pack per key at first use, cached after). The id column has one
    * type in practice, but K is erased at the call site — keying by the
    * runtime class means a caller that (wrongly or deliberately) asks
    * for a different K gets its own correctly-typed pack instead of a
    * silently mistyped cache hit surfacing as a ClassCastException far
    * from the call (ADVICE r9).
    */
  @transient private lazy val packedCache =
    new java.util.concurrent.ConcurrentHashMap[(Boolean, Class[_]), (org.apache.spark.rdd.RDD[_], org.apache.spark.HashPartitioner)]()

  /** Int8-quantized twins of the packed buckets (IVF-SQ8, round 12) —
    * derived from [[packedBuckets]] via [[graft.core.Q8Store.quantize]],
    * so they share its partitioner and cid keys; cached per
    * (normalized, K) like the fp32 packs.
    */
  @transient private lazy val packedQ8Cache =
    new java.util.concurrent.ConcurrentHashMap[(Boolean, Class[_]), org.apache.spark.rdd.RDD[_]]()

  /** Product-quantized twins of the packed buckets (IVF-PQ, round 15)
    * — codebook trained once per (normalized, K, m) from a bounded
    * sample of the bucket slabs, codes derived narrowly like the q8
    * twins; cached with their codebook.
    */
  @transient private lazy val packedPqCache =
    new java.util.concurrent.ConcurrentHashMap[(Boolean, Class[_], Int, Boolean),
      (graft.core.PqCodebook, org.apache.spark.rdd.RDD[_])]()

  /** Binary-sketch twins of the packed buckets (IVF-bit, round 15) —
    * seeded sign-bit sketches per bucket slab, no trained state at
    * all; keyed by (normalized, K, bits) like the pq cache.
    */
  @transient private lazy val packedBitCache =
    new java.util.concurrent.ConcurrentHashMap[(Boolean, Class[_], Int),
      org.apache.spark.rdd.RDD[_]]()

  /** Flat slab repacks of the bucketed blocks (full-scan route) —
    * derived narrowly from [[packedBuckets]], cached like the others.
    */
  @transient private lazy val flatPackCache =
    new java.util.concurrent.ConcurrentHashMap[(Boolean, Class[_]), graft.core.BlockStore[_]]()

  /** The full-scan route's per-call packed-QUERY cache (the store-side
    * packs above are per-index). Only the latest call's handle is
    * retained: each [[searchPacked]] full scan releases its
    * predecessor, so a long-lived session issuing many Dataset-query
    * full scans holds ONE cached query slab, not an unbounded trail
    * (VERDICT r14 wrong #1). Consequence, documented not accidental: a
    * PREVIOUS call's still-unconsumed lazy result DF recomputes its
    * query prep from lineage on use — deterministic and correct, one
    * re-pack slower.
    */
  @transient @volatile private var lastFullScanQPrep: org.apache.spark.rdd.RDD[_] = null

  private def swapFullScanQPrep(next: org.apache.spark.rdd.RDD[_]): Unit = {
    val prev = lastFullScanQPrep
    lastFullScanQPrep = next
    if (prev != null && (prev ne next)) prev.unpersist(false)
  }

  def unpersistAssigned(): Unit = {
    assigned.unpersist(false)
    packedCache.forEach((_, v) => { v._1.unpersist(false); () })
    packedCache.clear()
    packedQ8Cache.forEach((_, v) => { v.unpersist(false); () })
    packedQ8Cache.clear()
    packedPqCache.forEach((_, v) => { v._2.unpersist(false); () })
    packedPqCache.clear()
    packedBitCache.forEach((_, v) => { v.unpersist(false); () })
    packedBitCache.clear()
    flatPackCache.forEach((_, v) => { v.unpersist(false); () })
    flatPackCache.clear()
    swapFullScanQPrep(null)
    swapPackedAllowedState(Nil)
  }

  /** Probe strategy of the most recent search on this index:
    * "probe(np=N)" (pruned IVF scan), "exact_snap(requested=N)" (the
    * crossover below snapped the request to the all-list exact scan),
    * or "exact_all_lists" (nProbe = nList was requested outright).
    * Quantized paths (q8/pq) carry their tier instead —
    * "all_lists_snap(requested=N, tier=pq)" / "all_lists(tier=q8)" /
    * "probe(np=N, tier=pq)" — because probing every bucket through
    * LOSSY codes is not an exact scan and must not be labeled as one
    * (the scan stays ADC/int8-ranked; only a covering overfetch
    * rescore makes it exact).
    * Spec-pinned; the bench reads it to attribute np-sweep rows.
    * Last-call-wins under concurrency (ADVICE r13): this is bench/spec
    * introspection for single-threaded call sites, not a per-call
    * result channel — concurrent searches on one index may observe
    * each other's strategy string.
    */
  @volatile private var lastStrategyVar: String = ""
  def lastSearchStrategy: String = lastStrategyVar

  // telemetry for the filtered searches' adaptive loops: how many
  // probe passes the most recent filtered search took (0 = it
  // short-circuited on an empty batch or allow set; 1 = the initial
  // probe set filled every query; >1 = O16 refill kicked in)
  @volatile private var lastFilteredPassesVar: Int = 0
  def lastFilteredPasses: Int = lastFilteredPassesVar

  // once-per-index notice when an EXPLICITLY requested partial probe is
  // snapped to the exact scan (ADVICE r13: a recall/latency sweep that
  // deliberately asks for half-list probing gets the exact answer
  // back — same or better recall, cheaper wall, but not the probed
  // measurement it asked for; the knob opts out)
  @volatile private var warnedExplicitSnap = false

  /** Resolve a requested nProbe, applying the probe-fraction crossover
    * ([[graft.core.GraftConf.annExactScanFraction]]): past the
    * fraction, per-bucket probe machinery costs as much as the
    * pruning saves (measured: probing half the lists walls the same
    * as the full scan at the 100k x 1024 headline), so the request
    * snaps to nList — the all-bucket EXACT scan, recall 1.0. Every
    * search path resolves through here, so cross-path parity at equal
    * nProbe survives the snap. Driver-side only (GraftConf holds the
    * session).
    */
  private def resolveNProbe(requested: Int, tier: String = "exact"): Int = {
    val base = math.min(
      if (requested > 0) requested else IvfIndex.defaultNProbe(nList), nList)
    val frac = new graft.core.GraftConf(assigned.sparkSession).annExactScanFraction
    val exactTier = tier == "exact"
    if (base < nList && frac < 1.0 && base.toDouble >= frac * nList) {
      if (requested > 0 && !warnedExplicitSnap) {
        warnedExplicitSnap = true
        val claim =
          if (exactTier) "the exact all-list scan (recall 1.0, cheaper " +
            "than probing that fraction)"
          else s"an all-list $tier scan (still code-ranked, NOT exact — " +
            "a covering-overfetch rescore is what makes it exact)"
        org.slf4j.LoggerFactory.getLogger("graft.ann").warn(
          s"IvfIndex: explicit nProbe=$base >= ${frac} * nList=$nList — " +
            s"snapping to $claim; set graft.ann.exactscan.fraction" +
            " >= 1.0 to force genuine partial probing for sweeps")
      }
      lastStrategyVar =
        if (exactTier) s"exact_snap(requested=$base)"
        else s"all_lists_snap(requested=$base, tier=$tier)"
      nList
    } else {
      lastStrategyVar =
        if (base == nList) {
          if (exactTier) "exact_all_lists" else s"all_lists(tier=$tier)"
        } else {
          if (exactTier) s"probe(np=$base)" else s"probe(np=$base, tier=$tier)"
        }
      base
    }
  }

  /** Packed-kernel Dataset-query ANN top-k — the scale path when the
    * query batch is itself a table (millions of stored queries, beyond
    * driver memory; [[searchMerged]] is the driver-array twin). Each
    * centroid's rows are packed into the SIMD slabs the exact gemm path
    * streams (graft.core.VecBlock — the IVF-bucketed analog of
    * [[CosineTopK.gemmQueries]]), which measured ~10x the per-candidate
    * throughput of a declarative probe join on the ScaleSmoke ANN phase.
    *
    * Shuffle shape at scale: the store moves ONCE at first use into
    * centroid-keyed packed buckets, cached on the index (the same
    * lifecycle as `assigned`); per batch only Q × nProbe probe rows
    * (query vector + centroid id) shuffle in, buckets are cogrouped
    * in place (no store movement), and Q × nProbe × k heap entries
    * shuffle out of the merge — candidate scoring never crosses a
    * stage boundary. A covering probe scans the flat slab pack
    * instead ([[packedProbedTopK]]).
    *
    * Scoring follows [[CosineTopK.gemmQueries]] arithmetic:
    * `normalized=false` scores raw/raw cosine dot/(|q||v|) — `exact=true`
    * is then bit-identical to the declarative `cosine_sim` plan and
    * hash-matches the double cosine oracle (q48) — and a zero query in
    * that mode scores 0 everywhere. In `normalized` mode the zero query
    * maps to e0 for BOTH probe selection and scoring. Duplicate qids
    * stay independent results (per-row unique keying), as in
    * [[searchMerged]] and `gemmQueries`. The per-row keys come from
    * `zipWithUniqueId`, so their stability under partial stage retry
    * rests on Spark's indeterminate-stage rollback (an order-unstable
    * upstream — e.g. a round-robin repartition — marks the zipped map
    * stage INDETERMINATE and a fetch failure re-runs it whole rather
    * than mixing old and new keys); callers whose query Dataset has
    * unstable ordering AND duplicate qids should localCheckpoint it
    * first if they need retry-proof attribution. Output:
    * (qid, id, score, rank), bit-equal to [[searchMerged]] wherever the
    * two score a query in the same slot (IvfPackedEngineSpec).
    */
  def searchPacked[K](queries: Dataset[(Long, Array[Float])],
                      k: Int, nProbe: Int = 0, normalized: Boolean = true,
                      exact: Boolean = false)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    packedProbedTopK("searchPacked", queries, k, resolveNProbe(nProbe),
      normalized, overfetch = 0, member = null, deny = false,
      fp32Tier[K](normalized, exact, flatFullScan = false))


  /** Shuffle-free driver-batch ANN top-k — the IVF twin of
    * [[graft.core.BlockStore.topKMerged]] and the path that makes ANN
    * pay at the reference's own scale (100k × 1024-d, 1000-query
    * batches): [[searchPacked]]'s probe shuffle ships each query
    * vector once per probed bucket and pays multi-stage scheduling,
    * a fixed ~1-2 s that swamps the pruning win on small batches
    * (measured SLOWER than the exact scan at 100k). Here nothing
    * shuffles at all: the query batch plus a cid → probing-query
    * inversion broadcasts DOWN, each packed-bucket partition scores
    * only (bucket × its probing queries) pairs with the gemm kernels,
    * and per-query bounded heaps merge UP a treeAggregate —
    * partitions × Q × k tuples over the tree, the same volume
    * contract as the exact path, minus the un-probed work. The
    * engine is [[mergedProbedTopK]], shared by every driver-batch
    * search; this entry point supplies the fp32 bucket pack and
    * kernels.
    *
    * Scoring arithmetic, tie rule, and output shape match
    * [[searchPacked]] exactly (same kernels over the same buckets;
    * per-pair scores are independent of the query grouping), so the
    * two agree bit-for-bit — asserted in IvfIndexSpec. Driver memory
    * bounds the batch like every driver-array path; beyond that, use
    * [[searchPacked]].
    */
  def searchMerged[K](queries: Array[(Long, Array[Float])], k: Int,
                      nProbe: Int = 0, normalized: Boolean = true,
                      exact: Boolean = false)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    mergedProbedTopK("searchMerged", queries, k, resolveNProbe(nProbe),
      normalized, overfetch = 0, member = null, deny = false,
      fp32Tier[K](normalized, exact, flatFullScan = true))

  /** Membership-filtered IVF top-k with adaptive re-probe (round 16) —
    * the reference's adaptive over-fetch contract (O16: FAISS fetches
    * `top_k * buffer` and refetches a wider buffer whenever the
    * post-filter drops it under `top_k`, pico_vdb.py:717-775) done the
    * probed-engine way. The filter is pushed INTO the bucket scan as a
    * broadcast [[graft.core.MemberTest]] over row ids (exact
    * [[graft.core.SetMember]] with allow or deny polarity — `deny =
    * true` broadcasts the small COMPLEMENT of an anti-selective
    * filter — or a [[graft.core.BloomMember]], allow-only, whose
    * false positives the CALLER must verify and refill), so with an
    * exact member the filtering itself can never cost recall; only
    * probing can. Any query whose heap underfills after a
    * pass re-probes the NEXT slice of its centroid-ranked bucket order
    * (probe count doubling per pass — [[IvfIndex.probeIds]]' strict
    * (-score, cid) total order makes a longer ranking extend a shorter
    * one, so no bucket is scanned twice), until it fills or every
    * bucket has been scanned. A query therefore returns fewer than `k`
    * rows ONLY when the whole filtered store holds fewer than `k`
    * rows — exactly the exact path's contract, without its per-call
    * repack of every matching row.
    *
    * At `nProbe >= nList` (or the [[resolveNProbe]] crossover snap)
    * the single pass IS the exact filtered scan — oracled as q86.
    * fp32 kernels by default, `exact = true` flips to sequential
    * double accumulation, both bit-matching the exact strategy's
    * scoring at the same flag. Scale terms: one id-set broadcast
    * (bounded by the caller — `graft.ann.filtered.max` on the store
    * facade), one temp compacted slab per scanned mixed bucket per
    * pass, and each adaptive pass is one more treeAggregate over only
    * the newly probed buckets of still-underfilled queries.
    */
  def searchMergedAllowed[K](queries: Array[(Long, Array[Float])], k: Int,
                             member: graft.core.MemberTest[K], deny: Boolean,
                             nProbe: Int = 0, normalized: Boolean = true,
                             exact: Boolean = false)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    // exact-tier resolve semantics apply: for THIS path an all-list
    // scan is literally the exact filtered result (recall 1.0 over the
    // filtered set), the same claim the snap warning makes
    mergedProbedTopK("searchMergedAllowed", queries, k, resolveNProbe(nProbe),
      normalized, overfetch = 0, member, deny,
      fp32Tier[K](normalized, exact, flatFullScan = false))

  /** The fp32 tier of [[mergedProbedTopK]]. With `flatFullScan`, an
    * all-list probe (requested, or snapped by [[resolveNProbe]]'s
    * crossover) routes to the FLAT slab pack and the literal
    * [[graft.core.BlockStore.topKMerged]]: scoring the ~nList small
    * bucket blocks through the probed treeAggregate walls ~2x slower
    * (small blocks lose the gemm kernels' panel amortization; VERDICT
    * r13 wrong #2). Same kernels, same heaps, same tie rule over the
    * same rows, so results are bit-identical (q48/q49 oracle +
    * cross-path parity specs); queries go in PREPPED, with
    * normalizeQueries=false so topKMerged's own prep is a no-op. The
    * Dataset engine reads the same flat pack's blocks (`flat`).
    */
  private def fp32Tier[K](normalized: Boolean, exact: Boolean,
      flatFullScan: Boolean)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : IvfIndex.ProbedTier[K, graft.core.VecBlock[K], Array[Float]] =
    new IvfIndex.ProbedTier(packedBuckets[K](normalized)._1, identity,
      IvfIndex.fp32Scorer[K](exact),
      fullScan =
        if (!flatFullScan) null
        else (qs, k) => flatPack[K](normalized).topKMerged(qs, k,
          normalizeQueries = false, exact = exact),
      flat = () => flatPack[K](normalized).blocks)

  /** The engine of the driver-batch searches — [[searchMerged]],
    * [[searchMergedAllowed]], [[searchMergedQ8]],
    * [[searchMergedQ8Allowed]], [[searchMergedPq]] and
    * [[searchMergedBit]] differ only in their [[IvfIndex.ProbedTier]]:
    * the code pack and the per-task block scorer. Everything else
    * lives once here:
    *
    *  - query prep ([[IvfIndex.prepQuery]]), raw/raw cosine norms in
    *    cosine mode (a zero query scores 0)
    *  - probe passes: the probe scans run parallel over queries on the
    *    driver (sequential they were most of the fixed overhead, ~0.4 s
    *    at 1000 × 316 × 1024), then a cid → probing-query inversion. An
    *    unfiltered call (`member == null`) runs ONE pass over its
    *    `np` nearest buckets; an underfilled query is not re-probed. A
    *    filtered call re-probes every query whose heap holds fewer
    *    than `k` rows over the NEXT slice of its centroid ranking,
    *    doubling the probe count per pass (the [[searchMergedAllowed]]
    *    contract). The refill target is `k`, not `k * overfetch`:
    *    overfetch slots buffer quantization error, they are not a fill
    *    obligation — sweeping the whole store to fill them would
    *    defeat probing.
    *  - the scan: one depth-2 treeAggregate per pass (and per
    *    `tier.chunk` queries), the query slice plus the inversion
    *    broadcast down, subset views of the per-query heaps per
    *    probed bucket, heaps merged up
    *  - the exact fp32 tail ([[rescoreProbedMerged]], over every
    *    bucket any pass probed) when `overfetch > 0`, the
    *    (qid, id, score, rank) emit, and the `lastFilteredPasses`
    *    telemetry of filtered calls
    *
    * An empty batch, or an allow set matching nothing, returns no
    * rows without a Spark job (0 passes).
    */
  private def mergedProbedTopK[K, B, Q](
      name: String, queries: Array[(Long, Array[Float])], k: Int, np: Int,
      normalized: Boolean, overfetch: Int,
      member: graft.core.MemberTest[K], deny: Boolean,
      tier: => IvfIndex.ProbedTier[K, B, Q])(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      ctQ: scala.reflect.ClassTag[Q],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame = {
    import graft.core.BoundedTopKG
    val spark = assigned.sparkSession
    val sc = spark.sparkContext
    val qids = queries.map(_._1)
    val qvecs = queries.map { case (qid, v) =>
      IvfIndex.prepQuery(name, dim, normalized, qid, v)
    }
    val filtered = member != null
    var passes = 0
    val hits: Array[Array[(K, Double)]] =
      if (queries.isEmpty || (filtered && member.matchesNothing && !deny))
        Array.empty
      else {
        val t = tier
        val qnorms = IvfIndex.queryNorms(qvecs, normalized)
        if (t.fullScan != null && np >= nList && nList > 0)
          t.fullScan(qids.zip(qvecs), k)
        else {
          val scanK =
            if (overfetch <= 0) k
            else math.min(math.max(k.toLong * overfetch, k.toLong),
              Int.MaxValue.toLong).toInt
          val localOrd = ord
          val codes = t.encode(qvecs)
          val open = t.open
          val heaps = Array.fill(queries.length)(new BoundedTopKG[K](scanK)(localOrd))
          val probed = new java.util.BitSet(nList)
          val bcMem = sc.broadcast((member, deny))
          try {
            var prevNp = 0
            var curNp = math.max(1, math.min(np, math.max(nList, 1)))
            var active: Array[Int] = queries.indices.toArray
            while (active.nonEmpty && prevNp < nList && nList > 0) {
              passes += 1
              // this pass scans ranking slices [lo, hi) of each active query
              val act = active
              val lo = prevNp
              val hi = curNp
              val slices = new Array[Array[Int]](act.length)
              java.util.stream.IntStream.range(0, act.length).parallel().forEach { i =>
                val full = IvfIndex.probeIds(centroids, qvecs(act(i)), hi)
                slices(i) = java.util.Arrays.copyOfRange(
                  full, math.min(lo, full.length), full.length)
              }
              var c0 = 0
              while (c0 < act.length) {
                val c1 = math.min(act.length, c0 + t.chunk)
                val inv = Array.fill(nList)(new scala.collection.mutable.ArrayBuffer[Int](4))
                var i = c0
                while (i < c1) {
                  slices(i).foreach { c => inv(c) += i - c0; probed.set(c) }
                  i += 1
                }
                val chunk = java.util.Arrays.copyOfRange(act, c0, c1)
                val bc = sc.broadcast((chunk.map(codes),
                  if (qnorms == null) null else chunk.map(qnorms),
                  inv.map(_.toArray), open))
                try {
                  val acc = t.packed.treeAggregate(null: IvfIndex.ProbedAcc[K, B])(
                    seqOp = (acc, pair) => {
                      val (qs, qn, c2q, mk) = bc.value
                      val a =
                        if (acc != null) acc
                        else {
                          val (mem, dny) = bcMem.value
                          new IvfIndex.ProbedAcc[K, B](
                            Array.fill(qs.length)(new BoundedTopKG[K](scanK)(localOrd)),
                            mk(qs, qn, mem, dny))
                        }
                      val cid = pair._1
                      val idxs = if (cid >= 0 && cid < c2q.length) c2q(cid)
                                 else Array.emptyIntArray
                      // subset views share the task's heap objects, so
                      // the scorer's writes land in the right accumulators
                      if (idxs.length > 0) a.score(idxs.map(a.heaps), idxs, cid, pair._2)
                      a
                    },
                    combOp = (x, y) =>
                      if (x == null) y
                      else if (y == null) x
                      else {
                        var j = 0
                        while (j < x.heaps.length) { x.heaps(j).absorb(y.heaps(j)); j += 1 }
                        x
                      },
                    depth = 2)
                  if (acc != null) {
                    var j = 0
                    while (j < chunk.length) { heaps(chunk(j)).absorb(acc.heaps(j)); j += 1 }
                  }
                } finally bc.destroy()
                c0 = c1
              }
              prevNp = hi
              active =
                if (filtered) act.filter(qi => heaps(qi).filled < k)
                else Array.emptyIntArray
              curNp = math.min(nList, math.max(curNp * 2, curNp + 1))
            }
            if (passes > 1)
              // active at exit = queries STILL underfilled after the full
              // sweep: the filtered store holds fewer than k rows for them
              org.slf4j.LoggerFactory.getLogger("graft.ann").info(
                s"IvfIndex.$name re-probed adaptively — {} passes " +
                  "from initial nProbe {}; {} queries have < k filtered rows in the store",
                passes, np, active.length + 0)
            val out =
              if (overfetch <= 0) heaps
              else rescoreProbedMerged[K](heaps, qvecs, qnorms, probed, k, normalized)
            out.map(_.sortedHits())
          } finally bcMem.destroy()
        }
      }
    if (filtered) lastFilteredPassesVar = passes
    val rows: Seq[(Long, K, Double, Int)] =
      hits.iterator.zipWithIndex.flatMap { case (hs, i) =>
        hs.iterator.take(k).zipWithIndex.map { case ((id, s), r) =>
          (qids(i), id, s, r + 1)
        }
      }.toSeq
    spark.createDataset(rows)(outEnc).toDF("qid", "id", "score", "rank")
  }
  /** Latest filtered Dataset-query call's persisted state (query prep
    * + accumulated result heaps + the materialized output rows) — the
    * lastFullScanQPrep discipline in a slot of its own: a new filtered
    * call (or unpersistAssigned) releases the previous one's RDDs, so
    * repeated filtered batches hold ONE state set, not an unbounded
    * trail, and no unfiltered call releases a filtered call's slabs.
    */
  @transient @volatile private var lastPackedAllowedState:
    List[org.apache.spark.rdd.RDD[_]] = Nil

  private def swapPackedAllowedState(next: List[org.apache.spark.rdd.RDD[_]]): Unit = {
    val prev = lastPackedAllowedState
    lastPackedAllowedState = next
    prev.filterNot(p => next.exists(_ eq p)).foreach(_.unpersist(false))
  }

  /** Membership-filtered Dataset-query IVF top-k (round 17) — the bulk
    * twin of [[searchMergedAllowed]], so pipelines whose query batch
    * is itself a table (the [[searchPacked]] shape) get the same
    * no-repack filtered path instead of falling back to the exact
    * filtered scan. Same [[graft.core.MemberTest]] rungs and polarity
    * rules; Bloom callers own FP verification + refill as in the
    * driver-batch twin.
    *
    * Per adaptive pass, still-underfilled query rows ship their
    * probe-slice rows into the cogroup against the CACHED bucket pack,
    * and each co-located (bucket × its probing queries) group scans
    * member rows only ([[graft.core.BlockStore.scoreBlockMember]]
    * survivor compaction). A query returns fewer than k rows ONLY when
    * the filtered store holds fewer than k — [[searchMergedAllowed]]'s
    * contract, fully distributed ([[adaptiveFilteredLoop]]).
    *
    * At `nProbe >= nList` (or the [[resolveNProbe]] crossover snap)
    * the single pass scans the flat slab pack and IS the exact
    * filtered scan (oracled as q94); `exact = true` gives the
    * sequential-double arithmetic, bit-matching searchMergedAllowed
    * at the same flags (spec-pinned). The output rows are
    * materialized before returning — intermediate pass state is
    * released, only the Q × k result stays cached (latest call only).
    */
  def searchPackedAllowed[K](
      queries: Dataset[(Long, Array[Float])], k: Int,
      member: graft.core.MemberTest[K], deny: Boolean,
      nProbe: Int = 0, normalized: Boolean = true, exact: Boolean = false)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    packedProbedTopK("searchPackedAllowed", queries, k, resolveNProbe(nProbe),
      normalized, overfetch = 0, member, deny,
      fp32Tier[K](normalized, exact, flatFullScan = false))

  /** Membership-filtered bulk IVF-SQ8 top-k (round 17) — the int8
    * composition of [[searchPackedAllowed]], completing the
    * filtered × {driver-batch, Dataset} × {fp32, int8} matrix. Each
    * adaptive pass runs the fused cogroup of [[searchPackedQ8]]: the
    * membership-filtered int8 candidate scan
    * ([[graft.core.Q8Store.scoreBlockMember]] — 4× less filtered
    * candidate bandwidth) feeds a per-bucket fp32 rescore of the
    * `k × overfetch` surviving MEMBER rows from the co-located fp32
    * blocks, one pass, no extra shuffle. At covering probes +
    * covering overfetch the result is bit-equal to
    * `searchPackedAllowed(exact = true)` (spec-pinned; oracled as
    * q95). `overfetch <= 0` returns the scan-only approximate
    * ranking.
    */
  def searchPackedQ8Allowed[K](
      queries: Dataset[(Long, Array[Float])], k: Int,
      member: graft.core.MemberTest[K], deny: Boolean,
      nProbe: Int = 0, normalized: Boolean = true, overfetch: Int = 0)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    packedProbedTopK("searchPackedQ8Allowed", queries, k,
      resolveNProbe(nProbe, tier = "q8"), normalized, overfetch, member, deny,
      q8Tier[K](normalized))

  /** The engine of the Dataset-query searches — [[searchPacked]],
    * [[searchPackedAllowed]], [[searchPackedQ8]],
    * [[searchPackedQ8Allowed]], [[searchPackedPq]] and
    * [[searchPackedBit]] differ only in their [[IvfIndex.ProbedTier]],
    * as the driver-batch searches do in [[mergedProbedTopK]].
    * Everything else lives once here:
    *
    *  - query prep per row ([[IvfIndex.prepQuery]])
    *  - the probe fan-out: each query row ships to the buckets of its
    *    probe slice, keyed per ROW by `zipWithUniqueId`, so duplicate
    *    qids stay independent results through the uid-keyed merge
    *  - one fused cogroup per probe pass against the cached bucket
    *    pack: the tier's scorer fills `k × overfetch`-bounded heaps
    *    from each bucket's code blocks; with `overfetch > 0` those
    *    candidates rescore in double from the CO-LOCATED fp32 blocks
    *    of the same bucket (no second job, fp32 bytes touched only on
    *    candidate hits; a filtered scan's candidates are member rows
    *    already). The cut is per bucket — a SUPERSET of the merged
    *    twins' global cut, so recall can only match or exceed theirs
    *  - a covering probe on a tier with a flat pack (fp32): the probe
    *    shuffle would land every query on every bucket, so each query
    *    partition is prepped into ONE slab and scored against every
    *    flat block through a cartesian. The cartesian reads the query
    *    side once per block partition and reduceByKey merges the heaps
    *    BY INDEX, so the slabs are persisted and counted first: an
    *    order-unstable upstream re-read per block partition would hand
    *    one read's heaps to another read's qids. Filtered, this single
    *    pass IS the exact filtered scan
    *  - filtered calls run [[adaptiveFilteredLoop]], materialize their
    *    output, and keep their state in `lastPackedAllowedState`; an
    *    unfiltered covering call keeps its slab in `lastFullScanQPrep`.
    *    An allow set matching nothing returns no rows without a Spark
    *    job (0 passes)
    *
    * The code tiers keep the probe shuffle at nProbe = nList, shipping
    * each query vector nList times: that is the exact-parity gate shape
    * (q81, q101), not a scale workload — at scale probe partially, or
    * call `searchPacked(exact = true)`, which full probing equals at
    * covering overfetch anyway.
    */
  private def packedProbedTopK[K, B, Q](
      name: String, queries: Dataset[(Long, Array[Float])], k: Int, np: Int,
      normalized: Boolean, overfetch: Int,
      member: graft.core.MemberTest[K], deny: Boolean,
      tier: => IvfIndex.ProbedTier[K, B, Q])(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      ctB: scala.reflect.ClassTag[B],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame = {
    import graft.core.{BoundedTopKG, Q8Store, VecBlock}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = assigned.sparkSession
    val filtered = member != null
    if (filtered && member.matchesNothing && !deny) {
      lastFilteredPassesVar = 0
      return spark.createDataset(Seq.empty[(Long, K, Double, Int)])(outEnc)
        .toDF("qid", "id", "score", "rank")
    }
    val t = tier
    val bc = spark.sparkContext.broadcast((t.encode, t.open, (member, deny)))
    val dimLocal = dim
    val localOrd = ord
    if (t.flat != null && np >= nList && nList > 0) {
      if (filtered) lastFilteredPassesVar = 1
      val slabs = queries.rdd.mapPartitionsWithIndex { (pi, it) =>
        val arr = it.map { case (qid, v) =>
          (qid, IvfIndex.prepQuery(name, dimLocal, normalized, qid, v))
        }.toArray
        if (arr.isEmpty) Iterator.empty
        else {
          val qvecs = arr.map(_._2)
          Iterator((pi, (arr.map(_._1), qvecs, IvfIndex.queryNorms(qvecs, normalized))))
        }
      }.setName(if (filtered) "graft.ivf.filtered.qprep" else "graft.ivf.fullscan.qprep")
        .persist(MEMORY_AND_DISK)
      if (filtered) swapPackedAllowedState(List(slabs)) else swapFullScanQPrep(slabs)
      slabs.count()
      val rows = slabs.cartesian(t.flat()).map {
        case ((pi, (qids, qvecs, qnorms)), block) =>
          val (encode, open, (mem, dny)) = bc.value
          val heaps = Array.fill(qids.length)(new BoundedTopKG[K](k)(localOrd))
          open(encode(qvecs), qnorms, mem, dny)(heaps, qids.indices.toArray, -1, block)
          (pi, (qids, heaps))
      }.reduceByKey { (x, y) =>
        var i = 0
        while (i < x._2.length) { x._2(i).absorb(y._2(i)); i += 1 }
        x
      }.flatMap { case (_, (qids, heaps)) =>
        qids.iterator.zip(heaps.iterator).flatMap { case (qid, h) =>
          IvfIndex.hitRows(qid, h, k)
        }
      }
      return if (filtered) keepFiltered(rows) else frame(rows)
    }
    val (fpPacked, part) = packedBuckets[K](normalized)
    val codes = t.packed
    val rescore = overfetch > 0
    val scanK =
      if (!rescore) k
      else math.min(math.max(k.toLong * overfetch, k.toLong), Int.MaxValue.toLong).toInt
    val pass = (probes: RDD[(Int, (Long, Long, Array[Float]))]) => {
      val groups =
        if (rescore) codes.cogroup(fpPacked, probes, part)
        else codes.cogroup(probes, part).mapValues { case (c, qs) =>
          (c, Iterable.empty[VecBlock[K]], qs)
        }
      groups.flatMap { case (cid, (codeBlocks, fpBlocks, qs)) =>
        if (codeBlocks.isEmpty || qs.isEmpty) Iterator.empty
        else {
          val (encode, open, (mem, dny)) = bc.value
          val qarr = qs.toArray
          val qvecs = qarr.map(_._3)
          val qnorms = IvfIndex.queryNorms(qvecs, normalized)
          val score = open(encode(qvecs), qnorms, mem, dny)
          val all = qarr.indices.toArray
          val heaps = Array.fill(qarr.length)(new BoundedTopKG[K](scanK)(localOrd))
          codeBlocks.foreach(b => score(heaps, all, cid, b))
          val out =
            if (!rescore) heaps
            else {
              val cands = Q8Store.CandIndex.build[K](heaps.map(_.sortedHits()))
              val exact = Array.fill(qarr.length)(new BoundedTopKG[K](k)(localOrd))
              fpBlocks.foreach(b => Q8Store.rescoreBlock(exact, b, cands, qvecs, qnorms))
              exact
            }
          qarr.iterator.zip(out.iterator).map { case ((uid, qid, _), h) => (uid, (qid, h)) }
        }
      }.reduceByKey((a, b) => { a._2.absorb(b._2); a })
    }
    val bcCent = spark.sparkContext.broadcast(centroids)
    val prepped = queries.rdd.zipWithUniqueId().map { case ((qid, v), uid) =>
      (uid, (qid, IvfIndex.prepQuery(name, dimLocal, normalized, qid, v)))
    }
    if (!filtered)
      frame(pass(IvfIndex.fanOut(prepped, bcCent, 0, np)).flatMap {
        case (_, (qid, h)) => IvfIndex.hitRows(qid, h, k)
      })
    else {
      // persisted once and reused by every adaptive pass
      val qprep = prepped.setName("graft.ivf.filtered.qprep").persist(MEMORY_AND_DISK)
      qprep.count()
      adaptiveFilteredLoop[K](qprep, k, np, bcCent, pass)
    }
  }

  private def frame[K](rows: RDD[(Long, K, Double, Int)])(
      implicit outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    assigned.sparkSession.createDataset(rows)(outEnc).toDF("qid", "id", "score", "rank")

  /** Materializes a filtered call's output rows and makes them the
    * latest filtered call's state, releasing what the call held before.
    */
  private def keepFiltered[K](rows: RDD[(Long, K, Double, Int)])(
      implicit outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame = {
    rows.setName("graft.ivf.filtered.out")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rows.count()
    swapPackedAllowedState(List(rows))
    frame(rows)
  }

  /** The adaptive probe-slice loop of filtered [[packedProbedTopK]]
    * calls. `pass` turns one pass's probe rows `(cid, (uid, qid,
    * prepped-vector))` into per-row result heaps, reduced by uid.
    * Per-row SEEDED heaps (a row whose probe slice lands only on empty
    * buckets emits no partial and would otherwise vanish from the
    * underfilled set — searchMergedAllowed keeps driver-side heaps per
    * query; this is the distributed equivalent), strict probe-order
    * slices doubling per pass (the strict (-score, cid) order makes a
    * longer ranking extend a shorter one, so no bucket rescans), a
    * shrinking shuffle join of still-underfilled rows per pass (no
    * driver traffic), the per-pass heap merge with its cached-mutation
    * discipline, and the eager Q × k output materialization under the
    * latest-call-only state cache.
    */
  private def adaptiveFilteredLoop[K](
      qprep: RDD[(Long, (Long, Array[Float]))], kk: Int, np0: Int,
      bcCent: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      pass: RDD[(Int, (Long, Long, Array[Float]))]
        => RDD[(Long, (Long, graft.core.BoundedTopKG[K]))])(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame = {
    import graft.core.BoundedTopKG
    val localOrd = ord
    var results: RDD[(Long, (Long, BoundedTopKG[K]))] =
      qprep.mapValues { case (qid, _) => (qid, new BoundedTopKG[K](kk)(localOrd)) }
    var active: RDD[(Long, (Long, Array[Float]))] = qprep
    var activeN = 1L // any nonzero sentinel; refreshed after each pass
    var prevNp = 0
    var curNp = math.max(1, math.min(np0, math.max(nList, 1)))
    var passes = 0
    while (activeN > 0 && prevNp < nList && nList > 0) {
      passes += 1
      val passResult = pass(IvfIndex.fanOut(active, bcCent, prevNp, curNp))
      // the mutating absorb may run map-side against the PERSISTED
      // previous-round heaps (reduceByKey's combiner seeds with the
      // cached object itself) — safe only because the old `results` is
      // unpersisted right below, before anything could read the
      // mutated cache again; an eviction-recompute rebuilds
      // deterministically from lineage with fresh heaps. Keep the
      // unpersist (inside swapPackedAllowedState) adjacent to this.
      val merged = results.union(passResult)
        .reduceByKey((a, b) => { a._2.absorb(b._2); a })
      val mergedP = merged.setName("graft.ivf.filtered.heaps")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one bounded job per pass: materialize the merged heaps and
      // count the still-underfilled rows (the loop condition)
      activeN = mergedP.filter(_._2._2.filled < kk).count()
      swapPackedAllowedState(List(qprep, mergedP))
      results = mergedP
      prevNp = curNp
      if (activeN > 0) {
        val under = mergedP.filter(_._2._2.filled < kk).mapValues(_ => ())
        active = qprep.join(under).mapValues(_._1)
      }
      curNp = math.min(nList, math.max(curNp * 2, curNp + 1))
    }
    lastFilteredPassesVar = passes
    if (passes > 1)
      org.slf4j.LoggerFactory.getLogger("graft.ann").info(
        "IvfIndex: Dataset filtered search re-probed adaptively — {} passes " +
          "from initial nProbe {}; {} queries have < k filtered rows in the store",
        passes, np0, activeN + 0L)
    val out = keepFiltered(results.flatMap { case (_, (qid, h)) =>
      IvfIndex.hitRows(qid, h, kk)
    })
    qprep.unpersist(false)
    out
  }


  /** IVF-SQ8 driver-batch top-k (round 12): [[searchMerged]]'s
    * broadcast-down/heaps-up shape over INT8-quantized bucket slabs —
    * the two accelerators composed. IVF prunes WHICH rows are scanned
    * (nProbe/nList of the store), SQ8 compresses HOW each scanned row
    * is held (1 byte/coord): the probed fraction now streams 4x fewer
    * bytes, so at 100 TB the per-batch scan set drops from
    * probed-mass x 4 bytes/coord to probed-mass x 1.
    *
    * `overfetch <= 0`: scan-only — approximate int8 scores (the same
    * per-row error bound as [[graft.core.Q8Store]]), candidate
    * generation quality measured, not asserted. `overfetch > 0`: the
    * int8 scan keeps `k * overfetch` candidates per query, then ONE
    * more treeAggregate over the co-resident fp32 buckets rescores
    * only candidate hits (broadcast id->queries probe, fp32 bytes
    * touched O(Q*k*overfetch*dim)) with the exact engine's
    * sequential-double arithmetic — at overfetch covering the probed
    * rows the result is bit-equal to `searchMerged(exact = true)` at
    * the same nProbe (spec-pinned; the q59 catalog entry hash-matches
    * the DuckDB oracle through this path at nProbe = nList).
    *
    * Query prep, probe selection, duplicate-qid independence, tie
    * rule, and output shape come from [[mergedProbedTopK]], the engine
    * of every driver-batch search. Nothing shuffles; both passes are
    * depth-2 treeAggregates.
    */
  def searchMergedQ8[K](queries: Array[(Long, Array[Float])], k: Int,
                        nProbe: Int = 0, normalized: Boolean = true,
                        overfetch: Int = 0)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    mergedProbedTopK("searchMergedQ8", queries, k,
      resolveNProbe(nProbe, tier = "q8"), normalized, overfetch,
      member = null, deny = false, q8Tier[K](normalized))

  /** [[searchMergedAllowed]] composed with the int8 tier (round 16):
    * the membership-filtered probed scan over the QUANTIZED bucket
    * slabs — a filtered candidate scan streaming 4x fewer bytes,
    * which at 100 TB is the difference between a filtered scan that
    * fits cluster RAM and one that does not. Same adaptive re-probe
    * contract as the fp32 variant (underfilled queries widen their
    * probe slices until k candidates fill or every bucket is
    * scanned), same [[graft.core.MemberTest]] rungs and polarity
    * rules, same `overfetch` semantics as [[searchMergedQ8]]: the
    * int8 scan keeps `k * overfetch` candidates, then the shared
    * [[rescoreProbedMerged]] fp32 tail (restricted to every bucket
    * ANY pass probed) re-ranks exactly, double-accumulated. At
    * covering probes + covering overfetch the result is bit-equal to
    * the exact filtered scan (oracled as q88). The PQ/bit tiers
    * deliberately do NOT get filtered twins: int8 is the finest
    * compressed substrate and the one a filtered scan composes with
    * losslessly at covering overfetch; a filtered query on a pq/bit
    * store serves through the fp32 filtered scan instead.
    */
  def searchMergedQ8Allowed[K](queries: Array[(Long, Array[Float])], k: Int,
                               member: graft.core.MemberTest[K], deny: Boolean,
                               nProbe: Int = 0, normalized: Boolean = true,
                               overfetch: Int = 0)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    mergedProbedTopK("searchMergedQ8Allowed", queries, k,
      resolveNProbe(nProbe, tier = "q8"), normalized, overfetch, member, deny,
      q8Tier[K](normalized))

  private def q8Tier[K](normalized: Boolean)(
      implicit ct: scala.reflect.ClassTag[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : IvfIndex.ProbedTier[K, graft.core.Q8Block[K], Array[Float]] =
    new IvfIndex.ProbedTier[K, graft.core.Q8Block[K], Array[Float]](
      packedQ8Buckets[K](normalized), identity, IvfIndex.q8Scorer[K])

  /** The rescore tail of [[mergedProbedTopK]] (`overfetch > 0`):
    * invert the scan's candidate lists, probe ONLY the `probed`
    * buckets' co-resident fp32 slabs (each row is assigned to exactly
    * one centroid, so unprobed buckets cannot hold a candidate — the
    * rescore never even id-probes the un-probed (1 - nProbe/nList)
    * fraction of the store), exact sequential-double scores for
    * candidate hits only. Returns the per-query k-heaps.
    */
  private def rescoreProbedMerged[K](
      merged: Array[graft.core.BoundedTopKG[K]],
      qvecs: Array[Array[Float]],
      qnorms: Array[Double],
      probed: java.util.BitSet,
      k: Int,
      normalized: Boolean)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : Array[graft.core.BoundedTopKG[K]] = {
    import graft.core.{BoundedTopKG, Q8Store}
    val spark = assigned.sparkSession
    val localOrd = ord
    val candMap = Q8Store.CandIndex.build[K](merged.map(_.sortedHits()))
    val fpPacked = packedBuckets[K](normalized)._1
      .filter(pair => probed.get(pair._1))
    val bc2 = spark.sparkContext.broadcast((candMap, qvecs, qnorms))
    val kk2 = k
    val rescored = try {
      fpPacked.treeAggregate(null: Array[BoundedTopKG[K]])(
        seqOp = (acc, pair) => {
          val (cands, qv, qn) = bc2.value
          val heaps = if (acc != null) acc
                      else Array.fill(qv.length)(new BoundedTopKG[K](kk2)(localOrd))
          Q8Store.rescoreBlock(heaps, pair._2, cands, qv, qn)
          heaps
        },
        combOp = (a, b) =>
          if (a == null) b
          else if (b == null) a
          else {
            var i = 0
            while (i < a.length) { a(i).absorb(b(i)); i += 1 }
            a
          },
        depth = 2)
    } finally bc2.destroy()
    if (rescored != null) rescored
    else Array.fill(qvecs.length)(new BoundedTopKG[K](kk2)(localOrd))
  }

  /** IVF-PQ driver-batch top-k (round 15): [[searchMerged]]'s
    * broadcast-down/heaps-up shape over PRODUCT-QUANTIZED bucket slabs
    * — FAISS IVFPQ proper, the canonical billion-scale shape. IVF
    * prunes WHICH rows are scanned (nProbe/nList of the store), PQ
    * compresses HOW each scanned row is held (`m` code bytes vs
    * `4*dim` — 64x at 1024-d/m=128's 16x): at 100 TB the probed scan
    * set is small enough to pin in cluster RAM when even the int8
    * twins are not. Codes quantize RESIDUALS against each row's coarse
    * centroid by default (see [[packedPqBuckets]]; `byResidual = false`
    * keeps raw-vector codes — FAISS's `by_residual` flag, retained for
    * measurement and for stores whose coarse centroids carry no
    * structure); scoring is asymmetric
    * distance on the residual: one `m x ksub` float table per query,
    * built once per task from the broadcast codebook
    * ([[graft.core.PqCodebook.adcTable]]) and shared across ALL
    * buckets (inner-product ADC keeps the table bucket-independent —
    * only the `dot(q, c_cid)` scalar differs per probed pair), then
    * `m` table lookups + adds per row.
    *
    * `overfetch <= 0`: scan-only approximate ADC ranking (candidate
    * quality measured, not asserted — PQ codes are coarser than int8).
    * `overfetch > 0`: keeps `k * overfetch` ADC candidates per query,
    * rescored over the co-resident fp32 buckets restricted to probed
    * cids (the engine's [[rescoreProbedMerged]] tail, shared with
    * [[searchMergedQ8]]) — at overfetch covering the probed rows the
    * result is bit-equal to `searchMerged(exact = true)` at the same
    * nProbe (spec-pinned; the q80 catalog entry hash-matches the
    * DuckDB oracle through this path at nProbe = nList). The codebook
    * is trained ONCE per (normalized, K, m) from a bounded
    * content-hashed sample of the bucket slabs and cached beside the
    * code pack — train cost is N-independent, encode is one narrow
    * map.
    *
    * Query prep, probe selection, duplicate-qid independence, tie
    * rule, and output shape come from [[mergedProbedTopK]]. Nothing
    * shuffles; both passes are depth-2 treeAggregates. Batches whose
    * per-task ADC tables would exceed `graft.pq.table.budget.mb`
    * (default 64) are split into sequential scan chunks — bit-equal
    * to one chunk (spec-pinned), bounded memory at any batch size.
    */
  def searchMergedPq[K](queries: Array[(Long, Array[Float])], k: Int,
                        nProbe: Int = 0, normalized: Boolean = true,
                        overfetch: Int = 0, m: Int = 0,
                        byResidual: Boolean = true)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    mergedProbedTopK("searchMergedPq", queries, k,
      resolveNProbe(nProbe, tier = "pq"), normalized, overfetch,
      member = null, deny = false, pqTier[K](normalized, m, byResidual))

  /** The PQ tier, `m = 0` picking [[graft.core.PqStore.autoM]]. ADC
    * tables cost `chunk * m * ksub * 4` bytes PER TASK in the merged
    * engine (one table per query, built once per task) — `chunk` splits
    * the batch so that stays under graft.pq.table.budget.mb. The
    * headline 1000q/m=64 batch is one chunk; oversized batches trade
    * extra passes over the (RAM-resident) code pack for bounded task
    * memory instead of an executor OOM.
    */
  private def pqTier[K](normalized: Boolean, m: Int, byResidual: Boolean)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : IvfIndex.ProbedTier[K, graft.core.PqBlock[K], Array[Float]] = {
    val mm = if (m > 0) m else graft.core.PqStore.autoM(dim)
    val (codebook, pqPacked) = packedPqBuckets[K](normalized, mm, byResidual)
    val bytesPerQuery = mm.toLong * codebook.ksub.toLong * 4L
    val budgetBytes =
      new graft.core.GraftConf(assigned.sparkSession).pqTableBudgetMb.toLong << 20
    new IvfIndex.ProbedTier[K, graft.core.PqBlock[K], Array[Float]](
      pqPacked, identity,
      IvfIndex.pqScorer[K](codebook, if (byResidual) centroids else null),
      chunk = math.max(1, math.min(Int.MaxValue.toLong,
        budgetBytes / math.max(1L, bytesPerQuery)).toInt))
  }

  /** IVF-bit driver-batch top-k (round 15): the binary-sketch analog
    * of [[searchMergedPq]] and the cheapest rung of the composed
    * ladder — IVF prunes WHICH buckets are scanned, `bits` sign bits
    * hold each scanned row (32 B at the default 256 — 128x below fp32
    * at 1024-d), candidates rank by Hamming XOR+popcount, and
    * `overfetch > 0` rescores through the SAME probed-bucket fp32
    * tail as the q8/pq merged paths ([[rescoreProbedMerged]]) — at
    * covering overfetch the result is bit-equal to
    * `searchMerged(exact = true)` at the same nProbe (spec-pinned;
    * oracled as q83 at nProbe = nList). No per-query tables (the PQ
    * ADC budget term does not exist), no training, no offsets — the
    * sketch is scale-invariant so one pack serves both store modes'
    * candidate scans; query prep, tie rule, and output shape come
    * from [[mergedProbedTopK]], and the query sketches are made once
    * on the driver. Same honest caveat as the flat tier:
    * Hamming candidates are concentration-limited on uniform data —
    * compose on clustered embeddings or behind a wider overfetch.
    */
  def searchMergedBit[K](queries: Array[(Long, Array[Float])], k: Int,
                         nProbe: Int = 0, normalized: Boolean = true,
                         overfetch: Int = 0, bits: Int = 256)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    mergedProbedTopK("searchMergedBit", queries, k,
      resolveNProbe(nProbe, tier = "bit"), normalized, overfetch,
      member = null, deny = false, bitTier[K](normalized, bits))

  private def bitTier[K](normalized: Boolean, bits: Int)(
      implicit ct: scala.reflect.ClassTag[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : IvfIndex.ProbedTier[K, graft.core.BitBlock[K], Array[Long]] =
    new IvfIndex.ProbedTier[K, graft.core.BitBlock[K], Array[Long]](
      packedBitBuckets[K](normalized, bits), IvfIndex.bitSketches(_, bits),
      IvfIndex.bitScorer[K](bits))

  /** Bulk (Dataset-query) IVF-SQ8 top-k (round 12): [[searchPacked]]'s
    * probe-shuffle shape over the int8 bucket slabs — the composed
    * analog for query batches too large for a driver array. Because
    * the quantized and fp32 bucket RDDs share one partitioner, the
    * int8 candidate scan and the fp32 rescore FUSE into a single
    * cogroup pass ([[packedProbedTopK]]). At covering overfetch the
    * rescored result is bit-equal to `searchPacked(exact=true)`
    * (spec-pinned). `overfetch <= 0` returns the scan-only
    * approximate ranking.
    */
  def searchPackedQ8[K](queries: Dataset[(Long, Array[Float])],
                        k: Int, nProbe: Int = 0, normalized: Boolean = true,
                        overfetch: Int = 0)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    packedProbedTopK("searchPackedQ8", queries, k,
      resolveNProbe(nProbe, tier = "q8"), normalized, overfetch,
      member = null, deny = false, q8Tier[K](normalized))

  /** Bulk (Dataset-query) IVF-PQ top-k: [[searchPackedQ8]]'s fused
    * probe-shuffle shape over the PRODUCT-QUANTIZED bucket slabs — the
    * composed analog for query batches too large for a driver array.
    * The code pack keeps the fp32 pack's partitioner (encode is a
    * preservesPartitioning mapPartitions), so the ADC candidate scan
    * and the fp32 rescore fuse into one cogroup pass.
    *
    * ADC tables are built per (query, probed bucket) — `O(dim*ksub)`
    * each, amortized over the bucket's rows. At the >=128 MB slab
    * sizes the store packs for (32k+ rows at 1024-d), the build is
    * ~13% of the scan; for SMALL stores the one-table-per-task
    * [[searchMergedPq]] shape is cheaper. Task memory is bounded by
    * the bucket's probing fan-in (queries-per-bucket x m x ksub
    * floats), not the global batch size, so no chunking is needed on
    * this path. At covering overfetch the rescored result is bit-equal
    * to `searchPacked(exact = true)` (spec-pinned; oracled as q81 at
    * nProbe = nList).
    */
  def searchPackedPq[K](queries: Dataset[(Long, Array[Float])],
                        k: Int, nProbe: Int = 0, normalized: Boolean = true,
                        overfetch: Int = 0, m: Int = 0,
                        byResidual: Boolean = true)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    packedProbedTopK("searchPackedPq", queries, k,
      resolveNProbe(nProbe, tier = "pq"), normalized, overfetch,
      member = null, deny = false, pqTier[K](normalized, m, byResidual))

  /** Bulk (Dataset-query) IVF-bit top-k (round 18): [[searchPackedQ8]]'s
    * fused probe-shuffle shape over the BINARY-SKETCH bucket slabs.
    * Per probed bucket, queries sketch under the store's seeded
    * hyperplanes (regenerated in-task from the seed, never shuffled),
    * the Hamming XOR+popcount scan keeps `k * overfetch` candidates
    * per query, and the fused fp32 rescore re-ranks them from the SAME
    * bucket's float blocks. At covering probes + covering overfetch
    * the rescored result is the exact scan (every member row of every
    * probed bucket is a candidate), which the q101 catalog entry
    * hash-matches against the DuckDB oracle. `overfetch <= 0` returns
    * the scan-only angle-estimate ranking.
    */
  def searchPackedBit[K](queries: Dataset[(Long, Array[Float])],
                         k: Int, nProbe: Int = 0, normalized: Boolean = true,
                         overfetch: Int = 0, bits: Int = 256)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame =
    packedProbedTopK("searchPackedBit", queries, k,
      resolveNProbe(nProbe, tier = "bit"), normalized, overfetch,
      member = null, deny = false, bitTier[K](normalized, bits))


  /** Product-quantized twins of [[packedBuckets]] (IVF-PQ): the
    * codebook trains once from a bounded content-hashed sample of the
    * bucket slabs (N-independent — the PqStore.train contract), then
    * one narrow encode map per build, cached and persisted like the q8
    * twins. Returns the codebook WITH the code pack — queries need it
    * for ADC tables.
    *
    * With `byResidual` (the default — FAISS IVFPQ proper, its
    * `by_residual` flag), codes quantize RESIDUALS (`v - c_cid`, each
    * row against its assigned coarse centroid). Measured honestly
    * (PqProbe ivfpq modes, 100k x 1024-d / m=64 / nProbe=32): residual
    * and raw codes are EQUIVALENT at this shape — clustered recall@10
    * 0.754 both at overfetch=32 (candidate-budget-bound, not
    * code-bound), uniform ~0.03 both (16-d subspaces at 8 bits are
    * concentration-limited either way). Residual coding matters at
    * FINE subspaces over a STABLE coarse fit: the analytic spec
    * (IvfIndexSpec, dsub=2, pattern-pool residuals) reaches exact
    * top-k through pure ADC, and with an UNSTABLE coarse quantizer
    * (16 rows/bucket) residual measured 0.44 vs raw 0.49 — mis-bucketed
    * rows poison the residual sample, the reason the knob exists.
    * Sample membership hashes the RAW row bytes (data-only,
    * layout-independent — the train contract); the residual is
    * materialized with the same double-centroid arithmetic the encode
    * map uses. ADC table memory is `nq * m * ksub * 4` bytes per task
    * (tables are per-query, built once per task): m=64 at 1000
    * queries is 64 MB/task; m=256 at the same batch OOMed local[32]
    * unchunked — [[searchMergedPq]] now chunks query batches to
    * `graft.pq.table.budget.mb` (default 64), trading extra passes
    * over the RAM-resident code pack for bounded task memory.
    */
  private def packedPqBuckets[K](normalized: Boolean, m: Int,
      byResidual: Boolean)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : (graft.core.PqCodebook,
         org.apache.spark.rdd.RDD[(Int, graft.core.PqBlock[K])]) = {
    import graft.core.PqStore
    val cached = packedPqCache.computeIfAbsent(
        (normalized, ct.runtimeClass, m, byResidual), { _ =>
      val (fp, _) = packedBuckets[K](normalized)
      val sc = fp.sparkContext
      val bcCent = sc.broadcast(if (byResidual) centroids else null)
      val total = fp.map(_._2.rows.toLong).fold(0L)(_ + _)
      require(total > 0, "cannot train an IVF-PQ codebook on an empty index")
      val thr = PqStore.sampleThreshold(total, 20000)
      val sampled: Array[Array[Float]] = fp.flatMap { case (cid, b) =>
        val cents = bcCent.value
        val c =
          if (cents != null && cid >= 0 && cid < cents.length) cents(cid)
          else null
        val out = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val d = b.dim
        var r = 0
        while (r < b.rows) {
          if (PqStore.rowHash(b.data, r * d, d, 42L) < thr) {
            val row = new Array[Float](d)
            var t = 0
            while (t < d) {
              row(t) =
                if (c == null) b.data(r * d + t)
                else (b.data(r * d + t) - c(t)).toFloat
              t += 1
            }
            out += row
          }
          r += 1
        }
        out.iterator
      }.collect()
      val cb = PqStore.trainOnRows(sampled, m, 256, 42L, 8)
      val bcb = sc.broadcast(cb)
      // mapPartitions + preservesPartitioning: the code pack keeps the
      // fp32 pack's bucket partitioner, so [[searchPackedPq]]'s fused
      // cogroup stays shuffle-free on the store side
      val pq = fp.mapPartitions({ it =>
        val cents = bcCent.value
        it.map { case (cid, b) =>
          val pb =
            if (cents != null && cid >= 0 && cid < cents.length)
              PqStore.encodeResidual(bcb.value, b, cents(cid))
            else PqStore.encode(bcb.value, b)
          (cid, pb)
        }
      }, preservesPartitioning = true)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      pq.count()
      (cb, pq)
    })
    (cached._1,
      cached._2.asInstanceOf[org.apache.spark.rdd.RDD[(Int, graft.core.PqBlock[K])]])
  }

  /** Quantized twins of [[packedBuckets]] — one narrow map per build,
    * cached and persisted like the fp32 packs. Eagerly materialized for
    * the same task-wave-race reason.
    */
  private def packedQ8Buckets[K](normalized: Boolean)(
      implicit ct: scala.reflect.ClassTag[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : org.apache.spark.rdd.RDD[(Int, graft.core.Q8Block[K])] = {
    val cached = packedQ8Cache.computeIfAbsent((normalized, ct.runtimeClass), { _ =>
      val (fp, _) = packedBuckets[K](normalized)
      val q8 = fp.mapValues(graft.core.Q8Store.quantize[K])
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      q8.count()
      q8
    })
    cached.asInstanceOf[org.apache.spark.rdd.RDD[(Int, graft.core.Q8Block[K])]]
  }

  /** Binary-sketch twins of [[packedBuckets]] (IVF-bit): one seeded
    * sign-bit sketch map per build — NO training, NO sampling (the
    * [[graft.core.BitStore]] contract) — cached and persisted like the
    * q8/pq twins; mapValues keeps the bucket partitioner.
    */
  private def packedBitBuckets[K](normalized: Boolean, bits: Int)(
      implicit ct: scala.reflect.ClassTag[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : org.apache.spark.rdd.RDD[(Int, graft.core.BitBlock[K])] = {
    val cached = packedBitCache.computeIfAbsent(
        (normalized, ct.runtimeClass, bits), { _ =>
      val (fp, _) = packedBuckets[K](normalized)
      val b = bits
      val pack = fp.mapValues { blk =>
        val planes = graft.core.BitStore.hyperplanes(b, blk.dim,
          graft.core.BitStore.DefaultSeed)
        val w = (b + 63) >>> 6
        val codes = new Array[Long](blk.rows * w)
        var r = 0
        while (r < blk.rows) {
          graft.core.BitStore.encodeRow(blk.data, r * blk.dim, blk.dim,
            planes, b, codes, r * w)
          r += 1
        }
        new graft.core.BitBlock[K](blk.ids, codes, w, blk.dim)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      pack.count()
      pack
    })
    cached.asInstanceOf[org.apache.spark.rdd.RDD[(Int, graft.core.BitBlock[K])]]
  }

  /** Build (or fetch) the centroid-keyed packed buckets: one store
    * shuffle on `centroid_id`, then per-partition grouping + SIMD-slab
    * packing. Persisted MEMORY_AND_DISK and materialized eagerly (a
    * lazily-persisted RDD would have the first action's task waves race
    * the cache); dropped with [[unpersistAssigned]].
    */
  /** The full-scan substrate behind the probe-fraction crossover
    * (VERDICT r13 wrong #2): at nProbe = nList (requested, or snapped)
    * the per-bucket probe machinery buys nothing — scoring ~150 small
    * bucket blocks loses the gemm kernels' panel amortization and left
    * 2x on the table vs [[graft.core.BlockStore.topKMerged]] over
    * slab-sized blocks. This repacks the bucket blocks into full
    * ≤128 MB slabs, built lazily on the first full-scan search and
    * cached per (normalized, K) like the bucket packs. Memory: a
    * second copy of the packed floats, paid only by indexes that
    * actually serve full scans.
    *
    * Repack topology is ADAPTIVE (VERDICT r14 wrong #3): the bucket
    * pack's partitions follow the cid hash, and k-means bucket sizes
    * are never uniform — a dominant
    * bucket leaves one partition holding several full slabs that ONE
    * task then scans sequentially, straggling the whole treeAggregate
    * (measured 8x on a degenerate-clustering corpus: 4.0 s vs 0.5 s
    * for even slabs). When the per-partition row counts are balanced
    * (max <= 1.5x mean) the repack stays a NARROW map — no shuffle,
    * bytes stay put; when skewed, the rows round-robin through ONE
    * build-time shuffle into even slabs. The shuffle is paid once per
    * index build and only by skewed layouts; scoring results are
    * layout-free either way (order-free heap + (score, id) tie rule —
    * the q48/q49 oracles and the cross-path parity spec pin it).
    */
  private def flatPack[K](normalized: Boolean)(
      implicit ct: scala.reflect.ClassTag[K], ord: Ordering[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : graft.core.BlockStore[K] = {
    val cached = flatPackCache.computeIfAbsent((normalized, ct.runtimeClass), { _ =>
      val (packed, _) = packedBuckets[K](normalized)
      val normStore = normalized
      val rows = packed.values.mapPartitions { it =>
        it.flatMap { b =>
          val d = b.dim
          Iterator.tabulate(b.rows) { r =>
            (b.ids(r),
              java.util.Arrays.copyOfRange(b.data, r * d, (r + 1) * d))
          }
        }
      }
      // metadata pass over the cached blocks: per-partition row totals
      // decide whether the narrow repack would straggle
      val perPart = packed.values
        .mapPartitions(it => Iterator.single(it.map(_.rows.toLong).sum))
        .collect()
      val live = perPart.filter(_ > 0)
      val mean = if (live.isEmpty) 0.0 else live.sum.toDouble / live.length
      val skewed = live.length > 1 && live.max > 1.5 * mean
      if (skewed)
        org.slf4j.LoggerFactory.getLogger("graft.ann").info(
          s"IvfIndex: bucket layout is skewed (max partition ${live.max} " +
            f"rows vs mean $mean%.0f) - rebalancing the full-scan pack " +
            "through one build-time shuffle")
      val balanced =
        if (skewed) rows.repartition(perPart.length) else rows
      // cosine mode re-derives norms with the same arithmetic the
      // bucket pack used (normSqD over the raw rows) — scores are
      // bit-identical across the two layouts
      val blocks = balanced.mapPartitions { it =>
        graft.core.BlockStore.packPartition(it,
          normalize = false, assumeNormalized = normStore)
      }
      val bs = new graft.core.BlockStore[K](blocks, normalized)
      bs.blocks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bs.materialize()
      bs
    })
    cached.asInstanceOf[graft.core.BlockStore[K]]
  }

  /** Per-slab row counts of the full-scan flat pack — diagnostics for
    * the slab-geometry question (VERDICT r14 wrong #3) and for specs
    * that need a multi-partition pack.
    */
  private[graft] def flatPackSizes(normalized: Boolean = true): Seq[Int] = {
    val sp = assigned.sparkSession
    import sp.implicits._
    flatPack[Long](normalized).blocks.map(_.rows).collect().toSeq
  }

  private def packedBuckets[K](normalized: Boolean)(
      implicit ct: scala.reflect.ClassTag[K],
      rowEnc: org.apache.spark.sql.Encoder[(K, Array[Float], Int)])
      : (org.apache.spark.rdd.RDD[(Int, graft.core.VecBlock[K])], org.apache.spark.HashPartitioner) = {
    val cached = packedCache.computeIfAbsent((normalized, ct.runtimeClass), { _ =>
      val rows = assigned
        .select(col(idCol), col(vecCol), col("centroid_id"))
        .as[(K, Array[Float], Int)](rowEnc).rdd
      val nParts = math.max(rows.getNumPartitions,
        assigned.sparkSession.sparkContext.defaultParallelism)
      val part = new org.apache.spark.HashPartitioner(nParts)
      val normStore = normalized
      val packed = rows.map { case (id, v, cid) => (cid, (id, v)) }
        .partitionBy(part)
        .mapPartitions { it =>
          val byCid = new java.util.HashMap[Int, scala.collection.mutable.ArrayBuffer[(K, Array[Float])]]()
          it.foreach { case (cid, r) =>
            byCid.computeIfAbsent(cid, _ => new scala.collection.mutable.ArrayBuffer)
              .append(r)
          }
          import scala.jdk.CollectionConverters._
          byCid.entrySet().iterator().asScala.flatMap { e =>
            graft.core.BlockStore.packPartition(e.getValue.iterator,
                normalize = false, assumeNormalized = normStore)
              .map(b => (e.getKey.intValue, b))
          }
        }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      packed.count()
      (packed, part)
    })
    (cached._1.asInstanceOf[org.apache.spark.rdd.RDD[(Int, graft.core.VecBlock[K])]],
      cached._2)
  }
}

object IvfIndex {

  /** Nearest-centroid probe ids for one float query, closure-safe
    * (task closures must not capture the index: `assigned` is a
    * DataFrame). Inner-product order with the (-score, index) tie rule
    * of `nearest_centroids`, matching the assignment rule; ranking is
    * scale-invariant, so raw (un-normalized) queries probe identically
    * to their normalized forms.
    */
  private[graft] def probeIds(cents: Array[Array[Double]],
                              q: Array[Float], np: Int): Array[Int] = {
    val scored = new Array[(Double, Int)](cents.length)
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      var s = 0.0
      var j = 0
      val n = math.min(c.length, q.length)
      while (j < n) { s += c(j) * q(j); j += 1 }
      scored(ci) = (-s, ci)
      ci += 1
    }
    scored.sorted.take(np).map(_._2)
  }

  /** A query vector prepped for the scan. A mis-dimensioned query fails
    * loudly, named after the entry point: dotPackedD iterates q.length
    * over the packed slab, so a wrong-dim vector would silently read
    * into the NEXT row. In normalized mode the zero query maps to e0
    * BEFORE probe selection, so probes and scores see the same vector.
    */
  private[operators] def prepQuery(name: String, dim: Int, normalized: Boolean,
      qid: Long, v: Array[Float]): Array[Float] = {
    if (dim > 0) require(v.length == dim,
      s"IvfIndex.$name: query $qid has dim ${v.length}, index dim is $dim")
    if (normalized && Kernels.normSqD(v) == 0.0) {
      val e = new Array[Float](math.max(1, dim)); e(0) = 1f; e
    } else v
  }

  /** Cosine-mode query norms; null for a normalized store. */
  private[operators] def queryNorms(qvecs: Array[Array[Float]],
      normalized: Boolean): Array[Double] =
    if (normalized) null else qvecs.map(v => math.sqrt(Kernels.normSqD(v)))

  /** Probe rows `(cid, (uid, qid, v))` of each query row for slice
    * [lo, hi) of its centroid ranking.
    */
  private[operators] def fanOut(rows: RDD[(Long, (Long, Array[Float]))],
      cents: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      lo: Int, hi: Int): RDD[(Int, (Long, Long, Array[Float]))] =
    rows.flatMap { case (uid, (qid, v)) =>
      val full = probeIds(cents.value, v, hi)
      java.util.Arrays.copyOfRange(full, math.min(lo, full.length), full.length)
        .map(c => (c, (uid, qid, v)))
    }

  /** One query's (qid, id, score, rank) rows, best first. */
  private[operators] def hitRows[K](qid: Long, h: graft.core.BoundedTopKG[K],
      k: Int): Iterator[(Long, K, Double, Int)] =
    h.sortedHits().iterator.take(k).zipWithIndex.map { case ((id, s), r) =>
      (qid, id, s, r + 1)
    }

  /** A task's block scorer in [[IvfIndex.mergedProbedTopK]]: scores
    * code block `b` of bucket `cid` into `heaps`, the heaps of the
    * queries at positions `idxs` of the scan's batch.
    */
  private[operators] type ProbedScorer[K, B] =
    (Array[graft.core.BoundedTopKG[K]], Array[Int], Int, B) => Unit

  /** One code tier of [[IvfIndex.mergedProbedTopK]]:
    *  - `packed`: its bucket pack, keyed by centroid id
    *  - `encode`: the per-query form the tasks receive, made once on
    *    the driver from the prepped query vectors
    *  - `open`: builds a task's scorer from the scan's encoded queries,
    *    their norms (null for a normalized store) and the membership
    *    filter (null: every row passes). Runs once per task, so
    *    per-task state (PQ's ADC tables) is built once.
    *  - `chunk`: the most queries one scan may carry
    *  - `fullScan`: when set, serves an all-list driver-batch probe
    *    instead of the probed scan (fp32's flat slab pack)
    *  - `flat`: when set, the Dataset engine scans these slab-sized
    *    blocks for an all-list probe (fp32's flat slab pack)
    */
  private[operators] final class ProbedTier[K, B, Q](
      val packed: org.apache.spark.rdd.RDD[(Int, B)],
      val encode: Array[Array[Float]] => Array[Q],
      val open: (Array[Q], Array[Double], graft.core.MemberTest[K], Boolean)
        => ProbedScorer[K, B],
      val chunk: Int = Int.MaxValue,
      val fullScan: (Array[(Long, Array[Float])], Int)
        => Array[Array[(K, Double)]] = null,
      val flat: () => RDD[B] = null)

  /** A task's accumulator: the per-query heaps, plus the tier's scorer.
    * The scorer is `@transient` — only heaps cross the combine tree
    * (without the marker every partition would ship its PQ tables,
    * Q x m x ksub floats, up the treeAggregate: measured 9.7 s ->
    * sub-second scan for the identical result). seqOp only ever runs
    * on task-local accs (null start), so a deserialized null scorer is
    * never read.
    */
  private[operators] final class ProbedAcc[K, B](
      val heaps: Array[graft.core.BoundedTopKG[K]],
      @transient val score: ProbedScorer[K, B]) extends Serializable

  /** The fp32 block scorer: the packed kernels, or survivor compaction
    * under a membership filter.
    */
  private[operators] def fp32Scorer[K](exact: Boolean)(
      implicit ct: scala.reflect.ClassTag[K])
      : (Array[Array[Float]], Array[Double], graft.core.MemberTest[K], Boolean)
        => ProbedScorer[K, graft.core.VecBlock[K]] =
    (qs, qn, mem, deny) => (heaps, idxs, _, b) => {
      import graft.core.BlockStore
      val sq = idxs.map(qs)
      val sn = if (qn == null) null else idxs.map(qn)
      if (mem == null)
        BlockStore.scoreBlock(heaps, b, sq, sn, Double.NegativeInfinity, exact)
      else BlockStore.scoreBlockMember(heaps, b, sq, sn, mem, deny, exact)
    }

  /** The int8 block scorer. */
  private[operators] def q8Scorer[K](
      implicit ct: scala.reflect.ClassTag[K])
      : (Array[Array[Float]], Array[Double], graft.core.MemberTest[K], Boolean)
        => ProbedScorer[K, graft.core.Q8Block[K]] =
    (qs, qn, mem, deny) => (heaps, idxs, _, b) => {
      import graft.core.Q8Store
      val sq = idxs.map(qs)
      val sn = if (qn == null) null else idxs.map(qn)
      if (mem == null) Q8Store.scoreBlock(heaps, b, sq, sn)
      else Q8Store.scoreBlockMember(heaps, b, sq, sn, mem, deny)
    }

  /** The PQ block scorer: one ADC table per query, built once per task
    * and shared across all buckets. With residual codes (`cents` non-null)
    * dot(q, v) ~ dot(q, c_cid) + dot(q, r): the per-(query, bucket)
    * scalar is the ONLY bucket-dependent piece, so residual encoding
    * costs O(dim) per probed pair, the same order as the probe scan.
    */
  private[operators] def pqScorer[K](cb: graft.core.PqCodebook,
      cents: Array[Array[Double]])
      : (Array[Array[Float]], Array[Double], graft.core.MemberTest[K], Boolean)
        => ProbedScorer[K, graft.core.PqBlock[K]] =
    (qs, qn, _, _) => {
      val tables = qs.map(cb.adcTable)
      (heaps, idxs, cid, b) => {
        val c =
          if (cents != null && cid >= 0 && cid < cents.length) cents(cid)
          else null
        val offsets =
          if (c == null) null
          else idxs.map { i =>
            val q = qs(i)
            var s = 0.0
            var t = 0
            while (t < q.length) { s += q(t) * c(t); t += 1 }
            s
          }
        graft.core.PqStore.scoreBlock(heaps, idxs.map(tables), cb.ksub, b,
          if (qn == null) null else idxs.map(qn), offsets)
      }
    }

  /** Sign-bit sketches of the prepped queries under the seeded
    * hyperplanes the bit pack used (dims validated by the engine).
    */
  private[operators] def bitSketches(qvecs: Array[Array[Float]],
      bits: Int): Array[Array[Long]] = {
    import graft.core.BitStore
    val qDim = qvecs(0).length
    val planes = BitStore.hyperplanes(bits, qDim, BitStore.DefaultSeed)
    val w = (bits + 63) >>> 6
    val codes = new Array[Array[Long]](qvecs.length)
    java.util.stream.IntStream.range(0, qvecs.length).parallel().forEach { i =>
      val c = new Array[Long](w)
      BitStore.encodeRow(qvecs(i), 0, qDim, planes, bits, c, 0)
      codes(i) = c
    }
    codes
  }

  /** The Hamming block scorer over [[bitSketches]]. */
  private[operators] def bitScorer[K](bits: Int)
      : (Array[Array[Long]], Array[Double], graft.core.MemberTest[K], Boolean)
        => ProbedScorer[K, graft.core.BitBlock[K]] =
    (qs, _, _, _) => (heaps, idxs, _, b) => {
      val w = (bits + 63) >>> 6
      val sub = new Array[Long](idxs.length * w)
      var i = 0
      while (i < idxs.length) {
        System.arraycopy(qs(idxs(i)), 0, sub, i * w, w)
        i += 1
      }
      graft.core.BitStore.scoreBlock(heaps, b, sub, bits)
    }

  /** √N-scaled list count (the FAISS guideline for IVF coarse
    * quantizers): balanced buckets of ~√N rows keep both the probe
    * fan-out and the per-bucket scan sublinear as the store grows —
    * a FIXED nList degrades linearly on one axis or the other.
    */
  def defaultNList(n: Long): Int =
    math.max(4, math.round(math.sqrt(math.max(0L, n).toDouble)).toInt)

  /** Recall-first default probe count: HALF the lists. On
    * adversarially-uniform vectors (no cluster structure — the bench's
    * near-random embeddings) IVF recall approaches the probed-mass
    * fraction, so nList/4 lands near 0.6 recall@10 while nList/2
    * clears 0.8 (BENCH r6: 0.58 vs 0.81 at nList=16; VERDICT r6 #5).
    * Clustered real-world embeddings concentrate each query's true
    * neighbors in few lists and can drop `graft.ann.nprobe` well below
    * this for speed — the default trades a 2x scan for a recall floor
    * that holds even with no structure (SCALING.md "ANN defaults").
    */
  def defaultNProbe(nList: Int): Int = math.max(1, nList / 2)

  /** Build the index: local k-means (kmeans++ init, Lloyd) over a
    * bounded sample, then one distributed assignment pass adding
    * `centroid_id`. Vectors are expected L2-normalized (cosine == inner
    * product) unless `normalized=false`, in which case the fit sample is
    * normalized first (assignment by raw inner product is scale-
    * invariant per row, so the pass itself needs no normalization).
    */
  def build(store: DataFrame, idCol: String, vecCol: String,
            nList: Int, seed: Long = 42L, sampleCap: Int = 20000,
            normalized: Boolean = true, maxIter: Int = 8,
            cacheAssigned: Boolean = true): IvfIndex =
    assign(store,
      fitCentroids(store, vecCol, nList, seed, sampleCap, normalized, maxIter),
      idCol, vecCol, cacheAssigned)

  /** The fit half of [[build]]: sampled local k-means -> centroid matrix.
    * Callers that band rows themselves (e.g. multi-assign dedup blocking)
    * use this directly with `nearest_centroids`.
    */
  def fitCentroids(store: DataFrame, vecCol: String,
                   nList: Int, seed: Long = 42L, sampleCap: Int = 20000,
                   normalized: Boolean = true, maxIter: Int = 8): Array[Array[Double]] = {
    val total = store.count()
    val vecsDf = store.select(col(vecCol))
    // CONTENT-derived Bernoulli sample: `df.sample` consumes a
    // per-partition RNG in row order, and a post-shuffle partition's
    // row order varies with fetch order across runs — so both sample
    // membership and order were run-nondeterministic, and k-means++
    // init with them (observed as an ANN-recall flap at nProbe=1 in
    // the r12 bench). Hashing the vector itself makes membership a
    // function of the DATA only (duplicate vectors sample together —
    // acceptable for a fit sample); the driver-side lexicographic
    // sort below makes the init order canonical regardless of
    // collect order.
    val sampled =
      if (total <= sampleCap) vecsDf
      else {
        val thr = ((sampleCap.toDouble / total) * (1L << 32)).toLong
        vecsDf.filter(
          pmod(xxhash64(col(vecCol), lit(seed)), lit(1L << 32)) < thr)
      }
    val sample: Array[Array[Double]] = sampled.collect().map { r =>
      val v = r.getSeq[Float](0)
      val d = new Array[Double](v.length)
      var i = 0
      while (i < d.length) { d(i) = v(i).toDouble; i += 1 }
      if (!normalized) {
        var s = 0.0; var j = 0
        while (j < d.length) { s += d(j) * d(j); j += 1 }
        if (s > 0) { val inv = 1.0 / math.sqrt(s); j = 0; while (j < d.length) { d(j) *= inv; j += 1 } }
      }
      d
    }
    java.util.Arrays.sort(sample, new java.util.Comparator[Array[Double]] {
      def compare(a: Array[Double], b: Array[Double]): Int = {
        var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) {
          val c = java.lang.Double.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        Integer.compare(a.length, b.length)
      }
    })
    LocalKMeans.fit(sample, nList, maxIter, seed)
  }

  /** Assignment pass under FIXED centroids — the incremental-maintenance
    * primitive (reference `add_with_ids` analog). Argmax of the raw
    * inner product: per-row scale drops out, so un-normalized rows
    * bucket identically to their normalized forms. The argmax is a
    * codegen'd expression — a store-sized pass with no per-row boxing
    * (the round-2 version was a Scala UDF re-boxing every vector on
    * every incremental refresh). `cacheAssigned=false` skips pinning
    * the assignment (transient single-use indexes — callers that keep
    * the index should cache).
    *
    * Path selection (VERDICT r9 next-round #5): at or above
    * [[graft.functions.NearestCentroid.TwoLevelThreshold]] lists the
    * flat argmax's k·dim-per-row cost dominates the whole build (~447 s
    * of the 452 s 10M-row build), so the pass switches to the
    * two-level `nearest_centroid_hier` expression — √k group centers
    * first, exact argmax inside the best ⌈√k/8⌉ groups. Deterministic
    * bit-equal bucketing on fixed centroids either way (spec-pinned);
    * -Dgraft.nc2l.disable=true forces the flat path (measurement
    * escape hatch, tools/AssignBench).
    */
  def assign(store: DataFrame, centroids: Array[Array[Double]],
             idCol: String, vecCol: String,
             cacheAssigned: Boolean = true): IvfIndex = {
    import graft.functions.NearestCentroid
    val useHier = centroids.length >= NearestCentroid.TwoLevelThreshold &&
      !java.lang.Boolean.getBoolean("graft.nc2l.disable")
    val cid =
      if (useHier)
        graft.functions.nearest_centroid_hier(col(vecCol), centroids,
          NearestCentroid.defaultProbeGroups(centroids.length))
      else graft.functions.nearest_centroid(col(vecCol), centroids)
    val withCid = store.withColumn("centroid_id", cid)
    val assigned = if (cacheAssigned) withCid.cache() else withCid
    new IvfIndex(centroids, assigned, idCol, vecCol)
  }

  // ---- per-dataset index cache (amortizes repeated catalog/bench
  // runs) on the shared SessionLru policy (dead-session sweep, bounded
  // access-order eviction, build-outside-lock). Keys are caller-chosen
  // (path strings) — rewriting data under a key requires dropping it
  // first.
  private val cache = new graft.core.SessionLru[String, IvfIndex](
    8, _.assigned.sparkSession, _.unpersistAssigned())

  def cached(key: String)(mk: => IvfIndex): IvfIndex = cache.getOrBuild(key)(mk)
}

/** Seeded kmeans++ init + Lloyd iterations on a driver-side sample.
  * Squared-euclidean geometry; empty clusters reseed to the farthest
  * point. Deterministic for a given (sample, k, seed).
  */
object LocalKMeans {

  /** `pointParallel = false` runs the two per-point loops as plain
    * sequential loops instead of parallel streams — for callers that
    * already parallelize ACROSS independent fits (PqStore.trainOnRows'
    * subspace loop, round 22): nested parallel streams from m
    * concurrent fits flood the common fork-join pool with
    * microsecond-wide tasks whose overhead exceeds their work.
    * BIT-IDENTICAL output either way (the loops below only do
    * disjoint per-point writes; every FP accumulation is sequential
    * in index order in both modes) — determinism for a given
    * (sample, k, seed) stays the method's contract, parallel or not.
    */
  def fit(sample: Array[Array[Double]], k: Int, maxIter: Int, seed: Long,
          pointParallel: Boolean = true): Array[Array[Double]] = {
    require(sample.nonEmpty, "cannot fit k-means on an empty sample")
    val dim = sample(0).length
    val n = sample.length
    val kk = math.min(k, n)
    val rng = new java.util.Random(seed)
    def forPoints(body: Int => Unit): Unit =
      if (pointParallel)
        java.util.stream.IntStream.range(0, n).parallel().forEach(i => body(i))
      else {
        var i = 0
        while (i < n) { body(i); i += 1 }
      }

    def distSq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    // The two O(n·k·dim) loops below (seeding distance refresh, Lloyd
    // best-center search) run PARALLEL over points — at √N list counts
    // they dominate the whole index build (a 10M-row store fits
    // k=3162: 452 s single-threaded on the ScaleSmoke ANN phase, the
    // build's bottleneck). Parallelism is over exact per-point work
    // only (disjoint array writes); every floating-point ACCUMULATION
    // (the seeding weight sum, the centroid means) stays sequential in
    // index order, so the fitted centroids are BIT-IDENTICAL to the
    // sequential implementation — determinism for a given
    // (sample, k, seed) is part of this method's contract.

    // kmeans++ seeding
    val centers = new Array[Array[Double]](kk)
    centers(0) = sample(rng.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < kk) {
      val prev = centers(c - 1)
      forPoints { i =>
        val d = distSq(sample(i), prev)
        if (d < minD(i)) minD(i) = d
      }
      var sum = 0.0
      var i = 0
      while (i < n) { sum += minD(i); i += 1 }
      var pick = rng.nextDouble() * sum
      var j = 0
      while (j < n - 1 && pick > minD(j)) { pick -= minD(j); j += 1 }
      centers(c) = sample(j).clone()
      c += 1
    }

    // Lloyd
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    val movedFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    while (iter < maxIter && moved) {
      movedFlag.set(false)
      forPoints { i =>
        var best = 0
        var bestD = Double.MaxValue
        var cc = 0
        while (cc < kk) {
          val d = distSq(sample(i), centers(cc))
          if (d < bestD) { bestD = d; best = cc }
          cc += 1
        }
        if (assign(i) != best) { assign(i) = best; movedFlag.set(true) }
      }
      moved = movedFlag.get()
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      var i = 0
      while (i < n) {
        val a = assign(i)
        counts(a) += 1
        val s = sums(a)
        var j = 0
        while (j < dim) { s(j) += sample(i)(j); j += 1 }
        i += 1
      }
      var cc = 0
      val reseeded = new java.util.HashSet[Integer]()
      while (cc < kk) {
        if (counts(cc) == 0) {
          // reseed empty cluster to the farthest unclaimed point — each
          // empty cluster in this iteration takes a DIFFERENT point
          var far = -1
          var farD = -1.0
          var x = 0
          while (x < n) {
            if (!reseeded.contains(x)) {
              val d = distSq(sample(x), centers(assign(x)))
              if (d > farD) { farD = d; far = x }
            }
            x += 1
          }
          if (far >= 0) {
            reseeded.add(far)
            centers(cc) = sample(far).clone()
            moved = true
          }
        } else {
          val s = sums(cc)
          var j = 0
          while (j < dim) { s(j) /= counts(cc); j += 1 }
          centers(cc) = s
        }
        cc += 1
      }
      iter += 1
    }
    centers
  }
}
