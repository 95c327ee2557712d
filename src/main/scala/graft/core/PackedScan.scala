package graft.core

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

import graft.functions.NormalizeL2
import graft.operators.Kernels

/** Latest-call-only cache slot for bulk engines' materialized state
  * (the `IvfIndex.swapPackedAllowedState` discipline, extracted):
  * each call persists its output (and any pass intermediates it must
  * keep alive, or hands over their release function), and the NEXT
  * call — or the owner's teardown via `swap(Nil)` — releases
  * everything the new state doesn't reference.
  * A superseded call's still-lazy result DataFrame recomputes from
  * lineage — correct, one re-scan slower.
  */
private[graft] final class LatestCallSlot extends Serializable {
  @transient @volatile private var held: List[AnyRef] = Nil
  /** How many entities the slot currently pins (test instrumentation —
    * suite-parallel specs cannot assert on global persisted-RDD counts
    * without racing other suites' caches).
    */
  def size: Int = synchronized { if (held == null) 0 else held.size }
  def swap(next: List[AnyRef]): Unit = synchronized {
    val prev = if (held == null) Nil else held
    held = next
    prev.filterNot(p => next.exists(_ eq p)).foreach {
      // Datasets persist through the CacheManager, not their underlying
      // RDD — releasing one MUST go through Dataset.unpersist (round 19:
      // the queryDF bloom rung holds a persisted DataFrame here)
      case d: Dataset[_] => d.unpersist(false)
      case r: RDD[_] => r.unpersist(false)
      // a release handle, e.g. CosineTopK.GemmQueriesHandle.release
      case release: Function0[_] => release()
      case other =>
        throw new IllegalStateException(
          s"LatestCallSlot holds only RDDs, Datasets and release functions, got ${other.getClass}")
    }
  }
}

/** The shared bulk (Dataset-query) engine of the flat compressed tiers
  * (round 18): [[Q8Store]]/[[PqStore]]/[[BitStore]] `rescoredTopKPacked`
  * all run this two-stage shape — the `CosineTopK.gemmQueries` pack
  * topology applied to the candidate-generation/rescore split the
  * driver-batch `rescoredTopK` entry points already own:
  *
  *  1. SCAN: each query partition packs once (persisted + materialized
  *     before the cartesian stage — the r6 race lesson), every
  *     (query slab × code block) pair streams the COMPRESSED block into
  *     `k × overfetch`-bounded per-query heaps (1 B/coord for int8,
  *     m B/row for PQ codes, bits/8 B/row for sketches), and heaps
  *     absorb per query partition in a reduceByKey — shuffle volume
  *     O(qparts × codeParts × Q_part × scanK) candidate entries,
  *     independent of N.
  *  2. RESCORE: each query partition's surviving candidates invert into
  *     one [[Q8Store.CandIndex]] (id → querying entries, the broadcast
  *     probe structure of the driver-batch rescore, here carried WITH
  *     its partition instead of broadcast), and a second cartesian
  *     streams the co-resident fp32 `source` blocks ONCE per query
  *     partition, probing each row id and reading float bytes only on
  *     a hit — the exact engine's double arithmetic, so at covering
  *     overfetch (`k × overfetch >=` store rows) the result is
  *     bit-equal to the exact Dataset-query scan
  *     (`CosineTopK.gemmQueries(exact = true)`) — spec-pinned, and the
  *     q98-q100 catalog entries hash-match the DuckDB oracle through
  *     this path.
  *
  * Unlike the driver-batch twins, `overfetch <= 0` (keep-ALL) is
  * rejected outright: it would size every per-query heap to the store
  * row count on the executors — the bulk path's whole point is query
  * batches too large for any O(Q × N) state.
  *
  * Duplicate qids follow the `gemmQueries` rule: every query ROW gets
  * its own independent k-row result (no cross-partition qid merge).
  * Output: (qid, id, score, rank), eagerly materialized under the
  * store's [[LatestCallSlot]].
  */
private[graft] object PackedScan {

  /** `prep` runs once per packed query partition (e.g. the bit tier's
    * query sketches); `scan` scores one compressed block into the
    * partition's scanK-heaps. `dim > 0` validates every query's length
    * at pack time (the searchPacked contract: a short query would
    * silently score row prefixes).
    */
  def rescoredTopKPacked[K, B, P](
      codeBlocks: RDD[B],
      source: BlockStore[K],
      queries: Dataset[(Long, Array[Float])],
      k: Int,
      overfetch: Int,
      normalized: Boolean,
      normalizeQueries: Boolean,
      dim: Int,
      prep: Array[Array[Float]] => P,
      scan: (Array[BoundedTopKG[K]], B, Array[Array[Float]], Array[Double], P) => Unit,
      slot: LatestCallSlot)(
      implicit ct: ClassTag[K], ctB: ClassTag[B], ctP: ClassTag[P],
      ord: Ordering[K],
      outEnc: org.apache.spark.sql.Encoder[(Long, K, Double, Int)]): DataFrame = {
    require(overfetch > 0,
      s"bulk packed rescore needs a bounded candidate cut (got overfetch=" +
        s"$overfetch); the keep-all exact-parity mode exists only on the " +
        "driver-batch rescoredTopK")
    val spark = queries.sparkSession
    val kk = k
    val scanK =
      math.min(math.max(k.toLong * overfetch, k.toLong), Int.MaxValue.toLong).toInt
    val storeNorm = normalized
    val doNorm = normalizeQueries
    val dimLocal = dim
    val localOrd = ord
    val prepLocal = prep
    val scanLocal = scan

    val qpacked = queries.rdd.mapPartitionsWithIndex { (pi, it) =>
      val arr = it.toArray
      if (arr.isEmpty) Iterator.empty
      else {
        if (dimLocal > 0) arr.foreach { case (qid, v) =>
          require(v.length == dimLocal,
            s"rescoredTopKPacked: query $qid has dim ${v.length}, store dim is $dimLocal")
        }
        val qids = arr.map(_._1)
        val qvecs =
          if (storeNorm && doNorm) arr.map(q => NormalizeL2.normalize(q._2))
          else if (storeNorm) arr.map { q =>
            // pre-normalized callers (VdbStore.queryDF) skip the second
            // normalize for bit-parity with the driver facade; the
            // zero -> e0 write-time convention still applies
            val v = q._2
            if (Kernels.normSqD(v) == 0.0) {
              val e = new Array[Float](math.max(1, v.length)); e(0) = 1f; e
            } else v
          }
          else arr.map(_._2) // cosine mode scores raw/raw
        val qnorms: Array[Double] =
          if (storeNorm) null else qvecs.map(v => math.sqrt(Kernels.normSqD(v)))
        Iterator((pi, (qids, qvecs, qnorms, prepLocal(qvecs))))
      }
    }.setName("graft.packedscan.qprep")
      .persist(StorageLevel.MEMORY_AND_DISK)
    qpacked.count()

    // materialize a persisted-but-cold code pack once so the first
    // cartesian wave doesn't race the cache (the gemmQueries rule);
    // an unpersisted pack is the caller's choice and left alone
    if (codeBlocks.getStorageLevel != StorageLevel.NONE) codeBlocks.count()

    // 1. compressed candidate scan
    val scanPartials = qpacked.cartesian(codeBlocks).map {
      case ((pi, (qids, qvecs, qnorms, p)), block) =>
        val heaps = Array.fill(qids.length)(new BoundedTopKG[K](scanK)(localOrd))
        scanLocal(heaps, block, qvecs, qnorms, p)
        (pi, heaps)
    }
    val scanned = scanPartials.reduceByKey { (a, b) =>
      var i = 0
      while (i < a.length) { a(i).absorb(b(i)); i += 1 }
      a
    }

    // invert each partition's candidates for the rescore probe; the
    // join is qparts-sized rows only (both sides keyed by pi)
    val candPrep = qpacked
      .mapValues { case (qids, qvecs, qnorms, _) => (qids, qvecs, qnorms) }
      .join(scanned)
      .mapValues { case ((qids, qvecs, qnorms), heaps) =>
        (qids, qvecs, qnorms,
          Q8Store.CandIndex.build[K](heaps.map(_.sortedHits())))
      }.setName("graft.packedscan.cands")
      .persist(StorageLevel.MEMORY_AND_DISK)
    candPrep.count()
    qpacked.unpersist(false)

    // 2. fp32 rescore over the co-resident source blocks
    if (source.blocks.getStorageLevel != StorageLevel.NONE) source.materialize()
    val rescorePartials = candPrep.cartesian(source.blocks).map {
      case ((pi, (qids, qvecs, qnorms, cands)), block) =>
        val heaps = Array.fill(qids.length)(new BoundedTopKG[K](kk)(localOrd))
        Q8Store.rescoreBlock(heaps, block, cands, qvecs, qnorms)
        (pi, (qids, heaps))
    }
    val rows = rescorePartials.reduceByKey { (x, y) =>
      val a = x._2; val b = y._2
      var i = 0
      while (i < a.length) { a(i).absorb(b(i)); i += 1 }
      x
    }.flatMap { case (_, (qids, heaps)) =>
      qids.iterator.zip(heaps.iterator).flatMap { case (qid, h) =>
        h.sortedHits().iterator.take(kk).zipWithIndex.map { case ((id, s), r) =>
          (qid, id, s, r + 1)
        }
      }
    }.setName("graft.packedscan.out")
      .persist(StorageLevel.MEMORY_AND_DISK)
    rows.count()
    slot.swap(List(rows))
    candPrep.unpersist(false)
    spark.createDataset(rows)(outEnc).toDF("qid", "id", "score", "rank")
  }
}
