package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.core.{BlockStore, BoundedTopKG, Hnsw, VecBlock}

/** One shard of the distributed graph-ANN store: the raw packed slab
  * (ids + row-major float32 matrix + cosine norms — the exact-path
  * substrate, shared with [[graft.core.BlockStore]]) plus an HNSW graph
  * built over the UNIT-normalized rows. For stores written with the L2
  * invariant the graph traverses the slab matrix itself; in cosine mode
  * (raw rows) a normalized copy is packed next to it so graph
  * similarity is true cosine while the exact path keeps the
  * raw/raw-with-norms arithmetic the oracles hash-match.
  *
  * `dead` tombstones nodes by NODE INDEX (null when none is dead): a
  * deleted row, or the old version of an updated one, stays in the
  * slab and the graph as a navigation waypoint until the shard is
  * compacted ([[HnswStore.rebuildTouched]]), but no search returns it.
  * The mask is by node, not by id, because one shard can hold a dead
  * old version and a live new version of the same id. Graph walks
  * filter dead nodes at result collection; exact scans read
  * [[liveBlock]].
  */
final class HnswShard[K](
    val block: VecBlock[K],
    val unit: Array[Float],
    val graph: Hnsw,
    val dead: java.util.BitSet = null) extends Serializable {

  def liveRows: Int = if (dead == null) block.rows else block.rows - dead.cardinality()

  def isLive(node: Int): Boolean = dead == null || !dead.get(node)

  /** Node indices of the live rows, ascending. */
  def liveNodes: Array[Int] = (0 until block.rows).filter(isLive).toArray

  /** The slab restricted to its live rows, for exact scans — the slab
    * itself when no node is dead, else a copy made on every call. Not
    * cached on the shard: a cached copy would be up to a slab of heap
    * the block manager does not count, derived again by every
    * deserialized copy of the shard (the reason the q8 codes are a
    * persisted RDD, see [[HnswStore]]). Scorers take it once per
    * partition call, and only on the exact paths.
    */
  def liveBlock(): VecBlock[K] =
    if (dead == null) block
    else {
      val idx = liveNodes
      val d = block.dim
      val ids = scala.reflect.ClassTag[K](block.ids.getClass.getComponentType)
        .newArray(idx.length)
      val data = new Array[Float](idx.length * d)
      val norms = if (block.norms == null) null else new Array[Double](idx.length)
      var i = 0
      while (i < idx.length) {
        ids(i) = block.ids(idx(i))
        System.arraycopy(block.data, idx(i) * d, data, i * d, d)
        if (norms != null) norms(i) = block.norms(idx(i))
        i += 1
      }
      new VecBlock[K](ids, data, d, norms)
    }

  /** The live rows of `q8`, this shard's int8 codes (one row per node),
    * beside `live`, this shard's [[liveBlock]].
    */
  private[operators] def liveCodes(q8: graft.core.Q8Block[K],
                                   live: VecBlock[K]): graft.core.Q8Block[K] =
    if (dead == null) q8
    else {
      val idx = liveNodes
      val d = q8.dim
      val codes = new Array[Byte](idx.length * d)
      val scales = new Array[Float](idx.length)
      var i = 0
      while (i < idx.length) {
        System.arraycopy(q8.codes, idx(i) * d, codes, i * d, d)
        scales(i) = q8.scales(idx(i))
        i += 1
      }
      new graft.core.Q8Block[K](live.ids, codes, d, scales,
        if (q8.norms == null) null else idx.map(q8.norms(_)))
    }
}

/** Distributed sharded-HNSW vector index: `RDD[HnswShard]`, one graph
  * per bounded slab (≤ `maxBlockFloats` floats ≈ 128 MB), persisted
  * deserialized like the BlockStore it mirrors.
  *
  * Why this exists: IVF recall on STRUCTURE-FREE embeddings is bounded
  * by probed mass (nProbe/nList — SCALING.md "ANN"), and the
  * driver-local [[graft.core.Hnsw]] replica answers that only for
  * serving-sized stores (≤ Int.MaxValue floats on one JVM). This is the
  * DISTRIBUTED answer, the standard sharded-graph architecture
  * (FAISS-style shard-and-merge): graph quality lives per shard, scale
  * lives in Spark partitioning.
  *
  * Scale model (100 TB): builds parallelize perfectly — one
  * O(n·log n·m) graph construction per slab, no cross-shard edges, no
  * shuffle (the pointer-chasing part that does NOT map to Spark's model
  * stays inside one task's slab, reference pico_vdb.py:169-212 builds
  * ONE such graph serially). Queries broadcast down, per-shard beam
  * searches run locally, and bounded top-k heaps merge up a
  * treeAggregate — candidate traffic is O(shards × Q × k), independent
  * of N, identical to BlockStore.topKMerged. The six searches
  * ({driver batch, query table} × {unfiltered, member, member + int8})
  * are one engine, [[shardTopK]]: each supplies only its partitions and
  * its per-shard scorer. Sharded recall ≈ the
  * per-shard graph recall (each shard must surface only ITS OWN true
  * top-k rows; the exact union-merge loses nothing), so recall does not
  * degrade as shards are added. The trade is per-query entry overhead
  * O(shards × ef·log n_shard) — at scale keep shards slab-sized (10⁵-10⁶
  * rows), not thousands of tiny graphs.
  */
final class HnswStore[K](
    val spark: SparkSession,
    val shards: RDD[HnswShard[K]],
    val normalized: Boolean,
    val m: Int = 16,
    val efConstruction: Int = 100)(implicit ct: ClassTag[K], ord: Ordering[K]) {

  def persist(): this.type = persist(StorageLevel.MEMORY_ONLY)

  /** Stream-derived stores should pass MEMORY_AND_DISK: a MEMORY_ONLY
    * shard evicted under pressure recomputes through its lineage, and
    * a foreachBatch micro-batch source may no longer be replayable.
    */
  def persist(level: StorageLevel): this.type = {
    shards.persist(level)
    this
  }

  def unpersist(blocking: Boolean = false): Unit = {
    shards.unpersist(blocking)
    segments.foreach(_.unpersist(blocking))
    swapQPrep(null)
    dropQ8Codes(blocking)
  }

  /** Pin this store for a read in flight: a [[retire]] that comes
    * first waits for the matching [[release]].
    */
  private[graft] def acquire(): Unit = pinLock.synchronized { readers += 1 }

  private[graft] def release(): Unit =
    if (pinLock.synchronized { readers -= 1; readers == 0 && retired }) free()

  /** Release a store that a newer one supersedes, once no read pinned
    * by [[acquire]] is in flight. The shards of a refreshed store are
    * locally checkpointed ([[rebuildTouched]]): freeing their blocks
    * leaves nothing to recompute them from. So when a lazy frame over
    * them was handed out (the query-table searches), the shard blocks
    * stay for the ContextCleaner to free once nothing references the
    * shards, and only the store's other caches go now. Otherwise the
    * store is unpersisted.
    */
  def retire(): Unit =
    if (pinLock.synchronized { retired = true; readers == 0 }) free()

  private def free(): Unit =
    if (pinLock.synchronized(escaped) && shards.isCheckpointed) {
      swapQPrep(null)
      dropQ8Codes(false)
    } else unpersist()

  // reads pinned in flight, whether a lazy frame over the shards was
  // handed out, whether a newer store supersedes this one. A lock of
  // their own: acquire runs under the VdbStore's graph lock
  private val pinLock = new Object
  private var readers = 0
  private var escaped = false
  private var retired = false

  // stores whose persisted shards only this store's union reads
  // ([[append]]'s new segment): released with this store
  @volatile private var segments: List[HnswStore[K]] = Nil

  /** INT8 sibling of `shards` — the quantized copy of each shard's
    * UNIT matrix, persisted as codes ONLY (the packedQ8Buckets trade:
    * +25% shard memory buys a 4× cheaper beam). A derived PERSISTED
    * RDD, not a lazy field on the shard (round-18 review): a task
    * reading a shard partition non-locally deserializes a fresh
    * HnswShard, so a @transient-lazy copy would re-run the full-slab
    * quantize once per remote fetch — up to qparts times per shard per
    * packed call. NOT persisted as (shard, codes) PAIRS (ADVICE r18):
    * a pair cache re-stores the full fp32 slab + graph beside the
    * codes — double the storage accounting, a disk spill serializes
    * the fp32 shard twice, and eviction pressure lands on the very
    * caches the codes exist to protect. [[q8Shards]] re-pairs codes
    * with shards lazily via zipPartitions — narrow, co-located with
    * both caches, no third copy of anything. An eviction recomputes
    * exactly one lost codes partition from its shard. Derived on the
    * first hnsw-filtered+q8 query, so only that strategy pays the
    * memory; never serialized into the [[HnswIO]] snapshot (re-derived
    * deterministically from the units). norms stay null deliberately:
    * the graph walks unit rows, so the dequantized dot IS the cosine
    * estimate.
    */
  @volatile private var q8ShardsRef: RDD[graft.core.Q8Block[K]] = null

  /** Runs after the q8 codes' build job and before they are published
    * (test hook: lets a spec hold a build at that point).
    */
  @volatile private[graft] var q8BuiltHook: () => Unit = () => ()

  // q8Lock serializes the codes' build, which runs a job; the store's
  // monitor guards only q8ShardsRef and q8Drops, so freeing the store
  // never waits for a build. A build publishes its codes only if no
  // drop came in between: codes built for a freed store are released.
  private val q8Lock = new Object
  private var q8Drops = 0L

  private def q8Codes(): RDD[graft.core.Q8Block[K]] = {
    val cur = q8ShardsRef
    if (cur != null) cur
    else q8Lock.synchronized {
      val built = q8ShardsRef
      if (built != null) built
      else {
        val drops = synchronized(q8Drops)
        val derived = shards.map { sh =>
          graft.core.Q8Store.quantize(
            new VecBlock[K](sh.block.ids, sh.unit, sh.block.dim, null))
        }.setName("graft.hnsw.q8shards")
          .persist(StorageLevel.MEMORY_AND_DISK)
        derived.count()
        q8BuiltHook()
        val kept = synchronized {
          if (q8Drops == drops) q8ShardsRef = derived
          q8Drops == drops
        }
        if (!kept) derived.unpersist(false)
        derived
      }
    }
  }

  private def dropQ8Codes(blocking: Boolean): Unit = {
    val old = synchronized {
      q8Drops += 1
      val o = q8ShardsRef
      q8ShardsRef = null
      o
    }
    if (old != null) old.unpersist(blocking)
  }

  /** (shard, codes) pairs for the q8 beam paths: a lazy partition-wise
    * zip of the two caches — 1:1 by construction (q8Codes is a narrow
    * map of shards), with an explicit out-of-step guard because
    * Iterator.zip would silently DROP a trailing shard instead of
    * failing loudly.
    */
  private def q8Shards(): RDD[(HnswShard[K], graft.core.Q8Block[K])] =
    shards.zipPartitions(q8Codes(), preservesPartitioning = true) { (a, b) =>
      new Iterator[(HnswShard[K], graft.core.Q8Block[K])] {
        def hasNext: Boolean = {
          val l = a.hasNext; val r = b.hasNext
          require(l == r,
            "hnsw q8 codes cache out of step with the shard cache")
          l
        }
        def next(): (HnswShard[K], graft.core.Q8Block[K]) = (a.next(), b.next())
      }
    }

  /** [[searchPacked]]'s per-call packed-query cache — latest call only,
    * the IvfIndex.lastFullScanQPrep discipline (VERDICT r14 wrong #1):
    * a new call (or this store's unpersist) releases the previous
    * slab, so repeated Dataset-query batches hold one cached query RDD,
    * not an unbounded trail. A previous call's still-lazy result DF
    * recomputes its prep from lineage — correct, one re-pack slower.
    */
  @volatile private var lastQPrep: RDD[_] = null

  private def swapQPrep(next: RDD[_]): Unit = {
    val prev = lastQPrep
    lastQPrep = next
    if (prev != null && (prev ne next)) prev.unpersist(false)
  }

  /** Force the build; returns (live rows, shard count). Dead nodes
    * are not rows. Records the live row count and the dimension, so
    * neither [[liveRowCount]] nor [[dim]] runs a job afterwards.
    */
  def materialize(): (Long, Int) = {
    val stats = shards.map(sh => (sh.liveRows.toLong, sh.block.dim)).collect()
    // lineage-only broadcasts (rebuildTouched's dirty set and routing
    // table — ADVICE r16, and its caller's) are safe to free once every
    // shard is materialized. Shards the materialize checkpointed have
    // no lineage left, so the broadcasts are destroyed; otherwise only
    // their executor copies go, and an evicted shard recomputing
    // through its lineage re-fetches them
    val rel = releaseOnMaterialize
    releaseOnMaterialize = Nil
    val cut = shards.isCheckpointed
    rel.foreach(b => if (cut) b.destroy() else b.unpersist(false))
    val rows = stats.map(_._1).sum
    liveRowsVar = rows
    dimVar = stats.headOption.map(_._2).getOrElse(-1)
    (rows, stats.length)
  }

  // broadcast handles referenced only by this store's shard lineage,
  // freed from executors at the first materialize() (see above);
  // without this each incremental refresh would leak a broadcast of
  // up to graft.hnsw.incr.cap ids for the life of the store
  @volatile private[graft] var releaseOnMaterialize:
    List[org.apache.spark.broadcast.Broadcast[_]] = Nil

  @volatile private var liveRowsVar: Long = -1L
  @volatile private var dimVar: Int = Int.MinValue

  /** Live rows, as of the last [[materialize]] (which runs if none has). */
  def liveRowCount: Long = {
    if (liveRowsVar < 0) materialize()
    liveRowsVar
  }

  /** Store dimension (empty store → -1): learned by [[materialize]] or
    * inherited from the store a refresh grew from, else one tiny job
    * on first use.
    */
  def dim: Int = {
    if (dimVar == Int.MinValue)
      dimVar = shards.map(_.block.dim).take(1).headOption.getOrElse(-1)
    dimVar
  }

  /** Persist every shard (slab + graph topology) under `path` as an
    * immutable pointer-flipped snapshot; [[HnswStore.load]] restores
    * it with ZERO graph rebuilds (the build is the dominant cost this
    * persistence exists to amortize — see [[HnswIO]]). Returns the
    * snapshot dir.
    */
  def save(path: String): String = HnswIO.save(this, path)

  /** Segment-style incremental maintenance — the distributed analog of
    * the reference's incremental index adds (O26): new rows become NEW
    * shards, so only the new rows pay graph construction and existing
    * shards (and their persist state) are untouched. [[searchMerged]]
    * is shard-count-agnostic, so the returned store sees the union
    * immediately. Repeated small appends accumulate small graphs whose
    * per-query entry overhead grows with shard count — fold them with
    * [[compact]] when that taxes the fan-out (the Lucene segment-merge
    * pattern). The new shards are persisted here and owned by the
    * RETURNED store: its `unpersist()` releases them, never the source
    * store, which is released through its own handle.
    */
  def append(rdd: RDD[(K, Array[Float])], numShards: Int = 0): HnswStore[K] = {
    val extra = HnswStore.fromRDD(spark, rdd, normalize = normalized,
      assumeNormalized = false, m = m, efConstruction = efConstruction,
      numShards = numShards)
    extra.persist()
    val out = new HnswStore[K](spark, shards.union(extra.shards), normalized,
      m, efConstruction)
    out.segments = List(extra)
    out
  }

  /** Re-pack every live row into fresh slab-sized shards and rebuild
    * their graphs — O(N·log N) construction total but perfectly
    * parallel (one build per slab task). Exact-mode results are
    * unchanged (spec-pinned: packing is scoring-order-free); graph
    * recall typically improves over a long append tail (fewer, larger
    * graphs). Dead nodes are dropped. Rows pass through
    * byte-identically: unit slabs re-pack under `assumeNormalized`,
    * cosine slabs re-pack raw with norms recomputed by the same
    * arithmetic.
    */
  def compact(numShards: Int = 0,
              maxBlockFloats: Int = BlockStore.MaxBlockFloats): HnswStore[K] = {
    val rows = shards.flatMap(HnswStore.liveRowsOf[K])
    // numShards=0 folds to the cluster's parallelism — inheriting the
    // union's partitioning would rebuild the same fragmented layout
    val target =
      if (numShards > 0) numShards else shards.sparkContext.defaultParallelism
    HnswStore.fromRDD(spark, rows, normalize = false,
      assumeNormalized = normalized, m = m, efConstruction = efConstruction,
      numShards = target, maxBlockFloats = maxBlockFloats)
  }

  /** In-place shard maintenance — the reference's incremental index
    * upkeep (FAISS `remove_ids` + `add_with_ids` under a 0.2 ratio,
    * pico_vdb.py:195-204, 866-921,
    * test_task36_faiss_incremental_threshold.py) done per shard, each
    * shard in its own task, with no shuffle of store rows.
    *
    * `dirty` is every id upserted or deleted since this store was
    * built; `changed` is the CURRENT row of each dirty id that still
    * exists (deleted ids simply absent). Per shard:
    *  - tombstone: live nodes whose id is dirty join the shard's dead
    *    mask (deleted ids, and the old versions of updated ones);
    *  - insert: the shard's changed rows go into its existing graph
    *    ([[graft.core.Hnsw.build]] from the shard's graph — one build,
    *    the graph the shard held is not mutated);
    *  - compact: once the shard's dead share passes `annIncrRatio`
    *    (picovdb's 0.2), its live rows and inserts re-pack into fresh
    *    slabs and graphs.
    * A shard with nothing to do passes through as the same object; a
    * tombstone-only update builds nothing.
    *
    * Routing: an updated id's new row goes to the partition (and shard)
    * that held its old row, so its dead and live versions share a
    * shard while the slab has room; a new id goes to partition `hash mod partitions`, into that
    * partition's last shard (a fresh one if it holds none). A shard
    * whose slab is full (`maxBlockFloats`, as packed) passes its rows
    * to the partition's last shard, and past that one's room they
    * build fresh shards, so an update to a full slab tombstones there
    * and never rebuilds it. One job
    * over the shards' ids finds the held ids; the changed rows (bounded
    * by the caller's incremental threshold) shuffle to their
    * partitions and zip with the shards. Inserts are applied in id
    * order, so a refresh is deterministic.
    *
    * The returned store's shards are locally checkpointed: its first
    * materialization cuts their lineage, which would otherwise grow by
    * one zip per refresh. Persist + materialize it BEFORE releasing
    * this store, which its shards read until then, and release this
    * one with [[retire]]: checkpointed shards cannot be recomputed, so
    * a lazy frame over them must keep their blocks.
    */
  def rebuildTouched(dirty: Set[K], changed: RDD[(K, Array[Float])],
      maxBlockFloats: Int = BlockStore.MaxBlockFloats): HnswStore[K] =
    if (dirty.isEmpty) this
    else {
      val bc = shards.sparkContext.broadcast(dirty)
      val out = rebuildTouched(bc, changed, maxBlockFloats)
      out.releaseOnMaterialize ::= bc
      out
    }

  /** [[rebuildTouched]] over a dirty set the caller has broadcast
    * already (and releases once the returned store is materialized),
    * so a refresh ships the set once.
    */
  def rebuildTouched(dirty: Broadcast[Set[K]], changed: RDD[(K, Array[Float])],
      maxBlockFloats: Int): HnswStore[K] = {
    if (dirty.value.isEmpty) return this
    val sc = shards.sparkContext
    val nParts = shards.getNumPartitions
    if (nParts == 0)
      return HnswStore.fromRDD(spark, changed, normalize = false,
        assumeNormalized = normalized, m = m, efConstruction = efConstruction,
        maxBlockFloats = maxBlockFloats)
    // the one lookup job: the partition holding each dirty id's live node
    val held = shards.mapPartitionsWithIndex { (pi, it) =>
      val d = dirty.value
      it.flatMap(sh => HnswStore.liveDirty(sh, d).map(r => (sh.block.ids(r), pi)))
    }.collect().toMap
    val bcHeld = sc.broadcast(held)
    val routed = changed.map { row =>
      (bcHeld.value.getOrElse(row._1, math.floorMod(row._1.hashCode, nParts)), row)
    }.partitionBy(new org.apache.spark.HashPartitioner(nParts))
    val ratio = new graft.core.GraftConf(spark).annIncrRatio
    val norm = normalized
    val mm = m
    val efc = efConstruction
    val mbf = maxBlockFloats
    val localOrd = ord
    val localCt = ct
    val next = shards.zipPartitions(routed) { (shIt, rowIt) =>
      val d = dirty.value
      val shs = shIt.toArray
      val rows = rowIt.map(_._2).toArray.sortBy(_._1)(localOrd)
      if (shs.isEmpty) HnswStore.buildShards(rows.iterator, norm, mbf, mm, efc)(localCt)
      else {
        // per shard: the nodes to tombstone; an updated id's insert
        // follows its old node, a new id's goes to the last shard
        val owner = new java.util.HashMap[K, Integer]()
        val kills = shs.zipWithIndex.map { case (sh, si) =>
          val bits = new java.util.BitSet(sh.block.rows)
          HnswStore.liveDirty(sh, d).foreach { r =>
            bits.set(r)
            owner.put(sh.block.ids(r), si)
          }
          bits
        }
        // a shard with no room left (packPartition fills every slab but
        // the last) passes the row to the last shard, else to fresh
        // shards: the two versions of an id need only share a partition
        val last = shs.length - 1
        val cap = math.max(1, mbf / math.max(1, shs(last).block.dim))
        val room = shs.map(sh => cap - sh.block.rows)
        val inserts = shs.indices.map(_ => Array.newBuilder[(K, Array[Float])])
        val spill = Array.newBuilder[(K, Array[Float])]
        rows.foreach { row =>
          val si = owner.get(row._1)
          val at = Seq(if (si == null) last else si.intValue, last).find(room(_) > 0)
          at match {
            case Some(i) => inserts(i) += row; room(i) -= 1
            case None => spill += row
          }
        }
        shs.iterator.zipWithIndex.flatMap { case (sh, si) =>
          HnswStore.updateShard(sh, kills(si), inserts(si).result(),
            norm, ratio, mbf, mm, efc)(localCt)
        } ++ HnswStore.buildShards(spill.result().iterator, norm, mbf, mm, efc)(localCt)
      }
    }
    next.localCheckpoint()
    val out = new HnswStore[K](spark, next, normalized, m, efConstruction)
    out.dimVar = dimVar
    out.releaseOnMaterialize = List(bcHeld)
    out
  }

  /** Batch top-k over a driver-side query array, one shuffle-free job
    * ([[shardTopK]]'s driver-batch topology).
    *
    * `exact=true` ignores the graphs and scores every row with the
    * sequential-double arithmetic of the declarative path
    * (BlockStore.scoreBlock) — exact by construction, so the standard
    * DuckDB top-k oracle hash-matches; this pins the shard packing,
    * merge and ranking plumbing. `exact=false` runs the per-shard HNSW
    * beam search at `ef` (recall grows with ef; the graph path is
    * approximate — no oracle, recall-floor invariants instead).
    *
    * Cosine mode (un-normalized store): exact scores are
    * dot/(|q|·|v|) via the stored norms; the graph path normalizes the
    * query ONCE on the driver and traverses unit rows, so its scores
    * are the same cosine up to float32 rounding.
    */
  def searchMerged(queries: Array[(Long, Array[Float])], k: Int,
                   ef: Int = 64, exact: Boolean = false)(
      implicit outEnc: Encoder[(Long, K, Double, Int)]): DataFrame =
    shardTopK("searchMerged", Left(queries), shards, k, exact)(
      HnswStore.scoreShard[K](k, ef, exact))

  /** Exact member-scan fallbacks the most recent filtered search's
    * shards performed (one count per (query, shard) whose filtered beam
    * exhausted its component under k accepted rows — see the underfill
    * proof in [[HnswStore.scoreShardMember]]). 0 = every shard filled
    * every query from its graph, or the call short-circuited; grows as
    * the filter gets selective relative to shard size — the
    * lastFilteredPasses analog for the graph strategy. Unfiltered
    * searches leave it as it is.
    */
  @volatile private var lastMemberWideningsVar: Long = 0L
  def lastMemberFallbackScans: Long = lastMemberWideningsVar

  /** Membership-filtered batch top-k (round 17), closing the last
    * strategy×filter combination that fell back to the per-call exact
    * repack scan. The filter is one [[graft.core.MemberTest]] (exact
    * allow/deny set or Bloom — the caller owns Bloom FP verification +
    * refill, as for IVF's `searchMergedAllowed`), broadcast by
    * [[shardTopK]], and applies at beam RESULT collection inside each
    * shard's graph ([[graft.core.Hnsw.searchFiltered]] — the FAISS
    * `SearchParametersHNSW.sel` shape: traversal never skips nodes, so
    * selective filters cannot disconnect the walk; the beam instead
    * keeps expanding until ef ACCEPTED rows are in hand). A (query,
    * shard) whose beam STILL underfills k has provably exhausted its
    * entry component (see the proof in [[HnswStore.scoreShardMember]])
    * and snaps to the exact member scan over the slab
    * ([[graft.core.BlockStore.scoreBlockMember]]) — so a query returns
    * fewer than k rows ONLY when the filtered store holds fewer than k
    * rows, the exact path's contract. `exact = true` (or
    * `ef >= every shard's rows`) makes the whole call the exact
    * filtered scan — scoring arithmetic identical to
    * [[searchMerged]]`(exact = true)` over the member rows, which is
    * what the q89 oracle hash-matches. Filtering rides the CACHED shard
    * slabs: no per-call candidate repack.
    */
  def searchMergedMember(queries: Array[(Long, Array[Float])], k: Int,
                         member: graft.core.MemberTest[K], deny: Boolean,
                         ef: Int = 64, exact: Boolean = false)(
      implicit outEnc: Encoder[(Long, K, Double, Int)]): DataFrame =
    shardTopK("searchMergedMember", Left(queries), shards, k, exact,
      member, deny)(HnswStore.scoreShardMember[K](k, ef, exact))

  /** [[searchMergedMember]] over a query table ([[shardTopK]]'s
    * Dataset topology), bit-identical to it at the same (k, ef, exact)
    * — spec-pinned — with one exception: a non-exact covering beam on a
    * cosine store runs the fp32 member scan, whose last score bits
    * depend on a query's slot in its batch (BlockStore.scoreBlock's
    * four-query panels). Requires a persisted store, like
    * [[searchPacked]].
    */
  def searchPackedMember(queries: Dataset[(Long, Array[Float])], k: Int,
                         member: graft.core.MemberTest[K], deny: Boolean,
                         ef: Int = 64, exact: Boolean = false)(
      implicit outEnc: Encoder[(Long, K, Double, Int)]): DataFrame =
    shardTopK("searchPackedMember", Right(queries), shards, k, exact,
      member, deny)(HnswStore.scoreShardMember[K](k, ef, exact))

  /** The int8 composition of [[searchMergedMember]] (round 18 — VERDICT
    * r17 missing #3): each shard's filtered beam walks the graph over
    * an INT8-quantized copy of its unit slab
    * ([[graft.core.Hnsw.searchFilteredQ8]] — 4× less traversal
    * bandwidth, derived once per store, see [[q8Codes]]), keeps
    * `k × overfetch` accepted survivors, and rescores them against the
    * co-resident fp32 slab with the exact engine's double arithmetic —
    * IVF's candidate-generation/rescore split, graph-style. Same
    * membership rungs/polarity, underfill → exact-member-scan snap (the
    * component-exhaustion proof carries: quantized sims reorder the
    * walk, never terminate it under `ef` accepted) and telemetry as
    * [[searchMergedMember]]. At a store-covering `ef` the quantized
    * MEMBER SCAN keeps the int8 machinery in the loop (no silent fp32
    * reroute), and with covering overfetch every member row is a
    * candidate — the result is the exact filtered top-k
    * (double-accumulated), which the q102 catalog entry hash-matches.
    */
  def searchMergedMemberQ8(queries: Array[(Long, Array[Float])], k: Int,
                           member: graft.core.MemberTest[K], deny: Boolean,
                           ef: Int = 64, overfetch: Int = 4)(
      implicit outEnc: Encoder[(Long, K, Double, Int)]): DataFrame =
    shardTopK("searchMergedMemberQ8", Left(queries), q8Shards(), k,
      exact = false, member, deny)(
      HnswStore.scoreShardMemberQ8[K](k, ef, overfetch))

  /** [[searchMergedMemberQ8]] over a query table ([[shardTopK]]'s
    * Dataset topology), bit-identical to it at the same (k, ef,
    * overfetch) — spec-pinned. Requires a persisted store, like
    * [[searchPacked]].
    */
  def searchPackedMemberQ8(queries: Dataset[(Long, Array[Float])], k: Int,
                           member: graft.core.MemberTest[K], deny: Boolean,
                           ef: Int = 64, overfetch: Int = 4)(
      implicit outEnc: Encoder[(Long, K, Double, Int)]): DataFrame =
    shardTopK("searchPackedMemberQ8", Right(queries), q8Shards(), k,
      exact = false, member, deny)(
      HnswStore.scoreShardMemberQ8[K](k, ef, overfetch))

  /** [[searchMerged]] over a query table beyond driver memory
    * ([[shardTopK]]'s Dataset topology, the gemmQueries shape), and
    * bit-identical to it at the same (k, ef, exact) — spec-pinned. The
    * store must be persisted: an uncached shard RDD would rebuild every
    * graph once per query partition.
    */
  def searchPacked(queries: Dataset[(Long, Array[Float])], k: Int,
                   ef: Int = 64, exact: Boolean = false)(
      implicit outEnc: Encoder[(Long, K, Double, Int)]): DataFrame =
    shardTopK("searchPacked", Right(queries), shards, k, exact)(
      HnswStore.scoreShard[K](k, ef, exact))

  /** The one query engine behind the six searches above, REPOSE's
    * shape: a partition-local index plus one global top-k merge. `score`
    * adds one partition of `parts` (a shard, or a shard and its int8
    * codes) to every query's bounded heap; this method owns the rest —
    * the dim (driver batch) or persistence (Dataset) precondition
    * naming `entry`, query prep, the short-circuits that return no rows
    * without a Spark job (an empty driver batch; an allow set that
    * matches nothing), the membership broadcast and fallback-scan
    * accumulator, the reduction and the ranked emit. `member == null`
    * is an unfiltered call. `exact` selects the query prep: exact calls
    * skip the unit copies the graph walk reads.
    *
    * A driver batch (`Left`) broadcasts its prepped queries, scores
    * every shard into per-query heaps and merges them up one depth-2
    * treeAggregate: shards × Q × k heap traffic, zero shuffles, the
    * [[graft.core.BlockStore.topKMerged]] shape. A query table
    * (`Right`) packs each query partition ONCE (persisted and counted
    * before the cartesian stage, so the first task wave doesn't race to
    * re-pack it — the r6 lesson; only the latest call's slab stays
    * cached, see [[lastQPrep]]), scores every (query slab × partition)
    * pair and absorbs heaps per query partition in a reduceByKey:
    * shuffle volume O(qparts × shards × k) — a graph store probes every
    * shard by design. Both run the same per-(query, shard) code and
    * merge tie rule, so a merged call and its packed twin return the
    * same rows (see [[searchPackedMember]] for the one place where the
    * last score bits can differ). A filtered query-table call persists
    * and counts its output (Q × k rows) before it returns, because the
    * fallback accumulator fills only as tasks run and
    * [[lastMemberFallbackScans]] must be current (the review-r17
    * stale-counter fix); an unfiltered one stays lazy.
    */
  private def shardTopK[P: ClassTag](
      entry: String,
      queries: Either[Array[(Long, Array[Float])], Dataset[(Long, Array[Float])]],
      parts: => RDD[P], k: Int, exact: Boolean,
      member: graft.core.MemberTest[K] = null, deny: Boolean = false)(
      score: HnswStore.Scorer[K, P])(
      implicit outEnc: Encoder[(Long, K, Double, Int)]): DataFrame = {
    queries match {
      case Left(batch) =>
        // mis-dimensioned queries fail loudly (ADVICE r13): in exact mode
        // dotPackedD iterates q.length over the packed slab, so a short
        // query would silently score row PREFIXES and a long one would
        // read into the next row — the IvfIndex.search contract
        val d = dim
        if (d > 0) batch.foreach { case (qid, v) =>
          require(v.length == d,
            s"HnswStore.$entry: query $qid has dim ${v.length}, store dim is $d")
        }
      case Right(_) =>
        // a hard precondition: an uncached BlockStore merely re-PACKS
        // per query partition, but an uncached shard RDD re-runs the
        // HNSW GRAPH BUILD (~6 s per 100k rows) once per query
        // partition in the cartesian (review r13)
        require(HnswStore.effectivelyPersisted(shards),
          s"$entry requires a persisted store (call .persist() and " +
            "materialize once) — every query partition would otherwise " +
            "rebuild every shard graph")
    }
    val filtered = member != null
    val sc = shards.sparkContext
    val widen =
      if (filtered) sc.longAccumulator("graft.hnsw.member.fallback.scans") else null
    val localOrd = ord
    val out: Dataset[(Long, K, Double, Int)] =
      if (queries.fold(_.isEmpty, _ => false) ||
          (filtered && member.matchesNothing && !deny))
        spark.createDataset(Seq.empty[(Long, K, Double, Int)])(outEnc)
      else queries match {
        case Left(batch) =>
          val prep = HnswStore.prepQueries(batch, normalized, exact)
          val bc = sc.broadcast((prep, member, deny))
          val merged =
            try parts.treeAggregate(null: Array[BoundedTopKG[K]])(
              seqOp = (acc, part) => {
                val (q, mem, dny) = bc.value
                val heaps =
                  if (acc != null) acc else HnswStore.heaps(q._1.length, k)(localOrd)
                score(heaps, part, q, mem, dny, widen)
                heaps
              },
              combOp = (a, b) =>
                if (a == null) b else if (b == null) a else HnswStore.absorbAll(a, b),
              depth = 2)
            finally bc.destroy()
          val rows =
            if (merged == null) Seq.empty
            else HnswStore.ranked(prep._1, merged, k).toSeq
          spark.createDataset(rows)(outEnc)
        case Right(ds) =>
          pinLock.synchronized { escaped = true } // the frame reads the shards lazily
          val norm = normalized
          val bcMem = if (filtered) sc.broadcast((member, deny)) else null
          val qblocks = ds.rdd.mapPartitionsWithIndex { (pi, it) =>
            val arr = it.toArray
            if (arr.isEmpty) Iterator.empty
            else Iterator((pi, HnswStore.prepQueries(arr, norm, exact)))
          }.setName("graft.hnsw.qprep").persist(StorageLevel.MEMORY_AND_DISK)
          swapQPrep(qblocks)
          qblocks.count()
          materialize()
          val rows = qblocks.cartesian(parts).map { case ((pi, q), part) =>
            val heaps = HnswStore.heaps(q._1.length, k)(localOrd)
            val (mem, dny) = if (bcMem == null) (null, false) else bcMem.value
            score(heaps, part, q, mem, dny, widen)
            (pi, (q._1, heaps))
          }.reduceByKey { (x, y) => HnswStore.absorbAll(x._2, y._2); x }
            .flatMap { case (_, (qids, heaps)) => HnswStore.ranked(qids, heaps, k) }
          if (filtered) {
            rows.setName(s"graft.hnsw.$entry.out")
              .persist(StorageLevel.MEMORY_AND_DISK)
            rows.count()
            swapQPrep(rows) // latest-call slot: qblocks superseded, rows cached
          }
          spark.createDataset(rows)(outEnc)
      }
    // after the filtered call's jobs (or none, on a short-circuit: 0)
    if (filtered) lastMemberWideningsVar = widen.value
    out.toDF("qid", "id", "score", "rank")
  }
}

object HnswStore {

  /** Load a [[HnswStore.save]] snapshot — files to graphs, no rebuild
    * ([[graft.core.Hnsw.buildsInJvm]]-pinned). Unpersisted; callers
    * persist + materialize once before serving.
    */
  def load[K: ClassTag: Ordering](spark: SparkSession, path: String)
      : HnswStore[K] = HnswIO.load[K](spark, path)

  /** A prepped query batch: (qids, scoring vectors, their norms in
    * cosine mode else null, unit copies for the graph walk).
    */
  private[operators] type QPrep =
    (Array[Long], Array[Array[Float]], Array[Double], Array[Array[Float]])

  /** One partition's contribution to every query's heap, called by
    * [[HnswStore!.shardTopK]] with the heaps, the partition, the
    * prepped batch, the membership filter and its polarity (null and
    * false when unfiltered) and the fallback-scan accumulator (null
    * when unfiltered).
    */
  private[operators] type Scorer[K, P] = (Array[BoundedTopKG[K]], P, QPrep,
    graft.core.MemberTest[K], Boolean, LongAccumulator) => Unit

  /** The engine's query prep: zero -> e0 in normalized mode (the
    * write-time invariant's convention); cosine mode keeps raw vectors
    * + norms for exact scoring and derives unit copies for graph
    * traversal (zero-norm queries stay zero so every sim is 0, matching
    * the exact path's zero-score rule).
    */
  private[operators] def prepQueries(
      queries: Array[(Long, Array[Float])],
      normalized: Boolean,
      exact: Boolean): QPrep = {
    val qids = queries.map(_._1)
    val qvecs = queries.map { q =>
      val v = q._2
      if (normalized && Kernels.normSqD(v) == 0.0) {
        val e = new Array[Float](math.max(1, v.length)); e(0) = 1f; e
      } else v
    }
    val qnorms: Array[Double] =
      if (normalized) null else qvecs.map(v => math.sqrt(Kernels.normSqD(v)))
    val qunits: Array[Array[Float]] =
      if (normalized || exact) qvecs
      else qvecs.zipWithIndex.map { case (v, i) =>
        val n = qnorms(i)
        if (n == 0.0) v
        else {
          val out = new Array[Float](v.length)
          val inv = 1.0 / n
          var j = 0
          while (j < v.length) { out(j) = (v(j) * inv).toFloat; j += 1 }
          out
        }
      }
    (qids, qvecs, qnorms, qunits)
  }

  /** True when querying `rdd` recomputes no shard: either it is
    * persisted itself, or it is a union whose constituents all are. A
    * `UnionRDD` reports `StorageLevel.NONE` even when every parent is
    * persisted (its partitions just delegate) — so `append()` results
    * and the streaming segment view were wrongly rejected by a plain
    * storage-level check (ADVICE r13).
    */
  private[graft] def effectivelyPersisted(rdd: RDD[_]): Boolean =
    rdd.getStorageLevel != StorageLevel.NONE ||
      (rdd.isInstanceOf[org.apache.spark.rdd.UnionRDD[_]] &&
        rdd.dependencies.nonEmpty &&
        rdd.dependencies.forall(d => effectivelyPersisted(d.rdd)))

  /** Per-query heaps for one partition's (or one merge's) scores. */
  private def heaps[K](n: Int, k: Int)(implicit ord: Ordering[K])
      : Array[BoundedTopKG[K]] =
    Array.fill(n)(new BoundedTopKG[K](k)(ord))

  /** Absorb `b`'s heaps into `a`'s, query by query; returns `a`. */
  private def absorbAll[K](a: Array[BoundedTopKG[K]],
                           b: Array[BoundedTopKG[K]]): Array[BoundedTopKG[K]] = {
    var i = 0
    while (i < a.length) { a(i).absorb(b(i)); i += 1 }
    a
  }

  /** The (qid, id, score, rank) rows of merged heaps, best first. */
  private def ranked[K](qids: Array[Long], heaps: Array[BoundedTopKG[K]],
                        k: Int): Iterator[(Long, K, Double, Int)] =
    heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
      h.sortedHits().iterator.take(k).zipWithIndex.map {
        case ((id, s), r) => (qids(i), id, s, r + 1)
      }
    }

  /** Every query's dimension against the SHARD dim, executor-side — it
    * covers the Dataset-query path, whose queries never materialize on
    * the driver (ADVICE r13).
    */
  private def requireShardDim(d: Int, qvecs: Array[Array[Float]]): Unit = {
    var vi = 0
    while (vi < qvecs.length) {
      require(qvecs(vi).length == d,
        s"HnswStore: query dim ${qvecs(vi).length} != store dim $d — " +
          "a truncated dot product would silently score row prefixes")
      vi += 1
    }
  }

  /** The unfiltered scorer: the exact sequential-double scoreBlock over
    * the live rows, or one beam search per query at `max(ef, k)` — a
    * walk that denies dead nodes at result collection when the shard
    * has any.
    */
  private[operators] def scoreShard[K](k: Int, ef: Int, exact: Boolean)
      : Scorer[K, HnswShard[K]] = {
    val efk = math.max(ef, k)
    (heaps, shard, q, _, _, _) => {
      val (_, qvecs, qnorms, qunits) = q
      requireShardDim(shard.block.dim, qvecs)
      if (exact) {
        BlockStore.scoreBlock(heaps, shard.liveBlock(), qvecs, qnorms,
          Double.NegativeInfinity, exact = true)
      } else {
        val ids = shard.block.ids
        var qi = 0
        while (qi < qunits.length) {
          val hits =
            if (shard.dead == null) shard.graph.search(qunits(qi), k, efk)
            else shard.graph.searchFiltered(qunits(qi), k, efk, shard.isLive)
          var h = 0
          while (h < hits.length) {
            heaps(qi).offer(hits(h)._2, ids(hits(h)._1))
            h += 1
          }
          qi += 1
        }
      }
    }
  }

  /** The membership scorer — see [[HnswStore!.searchMergedMember]]. In
    * exact mode (or when the beam already covers the live rows) this IS
    * the exact member scan over the live rows; otherwise each query
    * runs the filtered beam search (dead nodes never accepted),
    * snapping to the exact member scan on underfill (see the
    * component-exhaustion proof inline) — so a shard under-reports a
    * query only when it truly holds fewer than k live member rows.
    */
  private[operators] def scoreShardMember[K: ClassTag](k: Int, ef: Int,
      exact: Boolean): Scorer[K, HnswShard[K]] = {
    val efk = math.max(ef, k)
    (heaps, shard, q, member, deny, widen) => {
      val (_, qvecs, qnorms, qunits) = q
      requireShardDim(shard.block.dim, qvecs)
      if (exact || efk >= shard.liveRows) {
        BlockStore.scoreBlockMember(heaps, shard.liveBlock(), qvecs, qnorms,
          member, deny, exact)
      } else {
        val ids = shard.block.ids
        val accept = (i: Int) => shard.isLive(i) && member.contains(ids(i)) != deny
        lazy val live = shard.liveBlock() // underfill snaps only
        var qi = 0
        while (qi < qunits.length) {
          val hits = shard.graph.searchFiltered(qunits(qi), k, efk, accept)
          if (hits.length >= k) {
            var h = 0
            while (h < hits.length) {
              heaps(qi).offer(hits(h)._2, ids(hits(h)._1))
              h += 1
            }
          } else {
            // underfill proof: searchFiltered's early-exit requires
            // ef accepted nodes in hand, so with FEWER the walk ran the
            // frontier dry — the entire entry component was visited and
            // holds < k accepted nodes. Re-walking at a wider ef would
            // visit the same set; only the exact member scan can add
            // rows (members outside the component), so snap straight to
            // it. This is the completeness half of the contract: a shard
            // under-reports a query only when it truly holds < k member
            // rows.
            widen.add(1L)
            val qv = Array(qvecs(qi))
            val qn = if (qnorms == null) null else Array(qnorms(qi))
            BlockStore.scoreBlockMember(Array(heaps(qi)), live,
              qv, qn, member, deny, exact)
          }
          qi += 1
        }
      }
    }
  }

  /** The membership scorer with the INT8 traversal composition — see
    * [[HnswStore!.searchMergedMemberQ8]]. At a covering beam (`ef >=`
    * live shard rows) the quantized MEMBER SCAN over the live rows of
    * the shard's int8 unit slab replaces the walk (keeping the compressed tier in the
    * covering-parity path, the q84/q95 rule), with ONE fused fp32
    * double rescore of the `scanK = k × overfetch` survivors from the
    * co-resident slab; otherwise each query runs the int8 filtered beam
    * collecting up to `scanK` accepted survivors (beam widened to
    * `max(ef, scanK)` — the candidate cut needs that many accepted in
    * hand) and rescores them in double, snapping to the exact member
    * scan on component exhaustion exactly like [[scoreShardMember]].
    * All scores leaving this scorer are double-accumulated (rescore or
    * exact snap), the quantized tiers' arithmetic contract.
    */
  private[operators] def scoreShardMemberQ8[K: ClassTag: Ordering](k: Int,
      ef: Int, overfetch: Int): Scorer[K, (HnswShard[K], graft.core.Q8Block[K])] = {
    import graft.core.Q8Store
    val efk = math.max(ef, k)
    val scanK = math.min(math.max(k.toLong * math.max(1, overfetch), k.toLong),
      Int.MaxValue.toLong).toInt
    (heaps, pair, q, member, deny, widen) => {
      val (shard, q8) = pair
      val (_, qvecs, qnorms, qunits) = q
      val d = shard.block.dim
      requireShardDim(d, qvecs)
      val ids = shard.block.ids
      if (efk >= shard.liveRows) {
        // covering beam: int8 member scan (unit rows, so qnorms = null —
        // the dequantized dot IS the cosine estimate) + fused rescore
        val live = shard.liveBlock()
        val scanHeaps = HnswStore.heaps[K](qunits.length, scanK)
        Q8Store.scoreBlockMember(scanHeaps, shard.liveCodes(q8, live), qunits,
          null, member, deny)
        val cands = Q8Store.CandIndex.build[K](scanHeaps.map(_.sortedHits()))
        Q8Store.rescoreBlock(heaps, live, cands, qvecs, qnorms)
      } else {
        val accept = (i: Int) => shard.isLive(i) && member.contains(ids(i)) != deny
        val data = shard.block.data
        val vnorms = shard.block.norms
        lazy val live = shard.liveBlock() // underfill snaps only
        var qi = 0
        while (qi < qunits.length) {
          val hits = shard.graph.searchFilteredQ8(qunits(qi), scanK,
            math.max(efk, scanK), accept, q8.codes, q8.scales)
          if (hits.length >= k) {
            // fp32 double rescore of the <= scanK survivors (exact-path
            // arithmetic: unit dot, or raw/raw over the stored norms)
            var h = 0
            while (h < hits.length) {
              val node = hits(h)._1
              var s = Kernels.dotPackedD(qvecs(qi), data, node * d)
              if (vnorms != null) {
                val qn = qnorms(qi)
                val vn = vnorms(node)
                s = if (qn == 0.0 || vn == 0.0) 0.0 else s / (qn * vn)
              }
              heaps(qi).offer(s, ids(node))
              h += 1
            }
          } else {
            // component exhausted (the scoreShardMember proof carries —
            // int8 sims reorder the walk, never end it under ef
            // accepted); exact=true matches the double rescore arithmetic
            widen.add(1L)
            val qv = Array(qvecs(qi))
            val qn = if (qnorms == null) null else Array(qnorms(qi))
            BlockStore.scoreBlockMember(Array(heaps(qi)), live,
              qv, qn, member, deny, exact = true)
          }
          qi += 1
        }
      }
    }
  }

  /** Pack (id, vector) rows into slab-sized shards and build one HNSW
    * graph per shard — each build runs inside its own task, so shard
    * builds parallelize across the cluster. `numShards > 0` repartitions
    * first (round-robin) to set build parallelism / graph size;
    * otherwise input partitioning decides (one graph per ≤128 MB slab).
    *
    * `normalize=true` applies the write-time L2 invariant while packing
    * (graphs share the slab matrix); `assumeNormalized=true` for rows
    * already unit-length; both false = cosine mode (raw slab + norms
    * for the exact path, a unit copy for the graph).
    */
  def fromDataset[K: ClassTag: Ordering](
      ds: Dataset[(K, Array[Float])],
      normalize: Boolean,
      assumeNormalized: Boolean = false,
      m: Int = 16,
      efConstruction: Int = 100,
      numShards: Int = 0,
      maxBlockFloats: Int = BlockStore.MaxBlockFloats): HnswStore[K] =
    fromRDD(ds.sparkSession, ds.rdd, normalize, assumeNormalized,
      m, efConstruction, numShards, maxBlockFloats)

  def fromRDD[K: ClassTag: Ordering](
      spark: SparkSession,
      rdd0: RDD[(K, Array[Float])],
      normalize: Boolean,
      assumeNormalized: Boolean = false,
      m: Int = 16,
      efConstruction: Int = 100,
      numShards: Int = 0,
      maxBlockFloats: Int = BlockStore.MaxBlockFloats): HnswStore[K] = {
    val rdd = if (numShards > 0) rdd0.repartition(numShards) else rdd0
    val mm = m
    val efc = efConstruction
    val norm = normalize
    val assume = assumeNormalized
    val mbf = maxBlockFloats
    val shards = rdd.mapPartitions { it =>
      BlockStore.packPartition[K](it, norm, assume, mbf).map(shardOf(_, mm, efc))
    }
    new HnswStore[K](spark, shards, norm || assume, m, efConstruction)
  }

  /** A shard over `block` with a freshly built graph. */
  private def shardOf[K](block: VecBlock[K], m: Int, efc: Int): HnswShard[K] = {
    val unit = unitOf(block)
    new HnswShard[K](block, unit, Hnsw.build(unit, block.rows, block.dim, m, efc))
  }

  /** Pack rows that are unit (`normalized`) or raw into slab-sized
    * shards, one fresh graph each — the per-partition build of
    * [[fromRDD]], [[compact]] and a refresh's compaction.
    */
  private[operators] def buildShards[K: ClassTag](
      rows: Iterator[(K, Array[Float])], normalized: Boolean,
      maxBlockFloats: Int, m: Int, efc: Int): Iterator[HnswShard[K]] =
    BlockStore.packPartition[K](rows, normalize = false,
      assumeNormalized = normalized, maxBlockFloats = maxBlockFloats)
      .map(shardOf(_, m, efc))

  /** The live nodes of a shard whose id is in `dirty`. */
  private def liveDirty[K](sh: HnswShard[K], dirty: Set[K]): Iterator[Int] =
    (0 until sh.block.rows).iterator
      .filter(r => sh.isLive(r) && dirty.contains(sh.block.ids(r)))

  /** The live (id, row) pairs of a shard, rows copied out of the slab. */
  private[operators] def liveRowsOf[K](sh: HnswShard[K]): Iterator[(K, Array[Float])] = {
    val b = sh.block
    val d = b.dim
    (0 until b.rows).iterator.filter(sh.isLive).map { r =>
      (b.ids(r), java.util.Arrays.copyOfRange(b.data, r * d, (r + 1) * d))
    }
  }

  /** One shard's refresh step (see [[HnswStore!.rebuildTouched]]):
    * tombstone the nodes in `kill`, then insert `rows` into the graph,
    * or compact the shard when its dead share passes `ratio` (the
    * caller routes no more rows to a shard than its slab has room for).
    * Yields the shard itself when there is nothing to do, and nothing
    * when compaction leaves no row.
    */
  private[operators] def updateShard[K: ClassTag](sh: HnswShard[K],
      kill: java.util.BitSet, rows: Array[(K, Array[Float])],
      normalized: Boolean, ratio: Double, maxBlockFloats: Int,
      m: Int, efc: Int): Iterator[HnswShard[K]] = {
    if (kill.isEmpty && rows.isEmpty) return Iterator(sh)
    val dead = kill.clone().asInstanceOf[java.util.BitSet]
    if (sh.dead != null) dead.or(sh.dead)
    val b = sh.block
    val nodes = b.rows + rows.length
    val tomb = new HnswShard[K](b, sh.unit, sh.graph, if (dead.isEmpty) null else dead)
    if (dead.cardinality() > ratio * nodes)
      buildShards(liveRowsOf(tomb) ++ rows.iterator, normalized, maxBlockFloats, m, efc)
    else if (rows.isEmpty) Iterator(tomb)
    else {
      val add = BlockStore.packPartition[K](rows.iterator, normalize = false,
        assumeNormalized = normalized, maxBlockFloats = Int.MaxValue).next()
      require(add.dim == b.dim,
        s"HnswStore: inserted rows have dim ${add.dim}, shard dim is ${b.dim}")
      val block = new VecBlock[K](b.ids ++ add.ids, b.data ++ add.data, b.dim,
        if (b.norms == null) null else b.norms ++ add.norms)
      val unit = if (block.norms == null) block.data else sh.unit ++ unitOf(add)
      val graph = Hnsw.build(unit, nodes, b.dim, m, efc, start = Some(sh.graph))
      Iterator(new HnswShard[K](block, unit, graph, tomb.dead))
    }
  }

  /** Unit-row matrix for graph traversal over `block`: the slab itself
    * when rows carry the write-time L2 invariant (norms == null), else
    * a normalized copy derived with the NormalizeL2 conventions
    * (zero row -> e0). Deterministic from the block alone — the shard
    * codec ([[HnswIO]]) re-derives it on load instead of persisting a
    * second float matrix.
    */
  private[operators] def unitOf[K](block: VecBlock[K]): Array[Float] =
    if (block.norms == null) block.data // already unit rows
    else {
      val dim = block.dim
      val out = new Array[Float](block.data.length)
      var r = 0
      while (r < block.rows) {
        val n = block.norms(r)
        val off = r * dim
        if (n == 0.0) {
          // zero row -> e0, the NormalizeL2 write-time convention
          if (dim > 0) out(off) = 1f
        } else {
          val inv = 1.0 / n
          var j = 0
          while (j < dim) {
            out(off + j) = (block.data(off + j) * inv).toFloat
            j += 1
          }
        }
        r += 1
      }
      out
    }

  // per-dataset store cache (amortizes repeated catalog/bench runs),
  // same SessionLru policy as IvfIndex.cached
  private val cache = new graft.core.SessionLru[String, HnswStore[Long]](
    4, _.spark, _.unpersist())

  def cached(key: String)(mk: => HnswStore[Long]): HnswStore[Long] =
    cache.getOrBuild(key)(mk)
}
