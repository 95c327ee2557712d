package graft.core

import scala.reflect.ClassTag
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel
import graft.functions.NormalizeL2
import graft.operators.Kernels

/** One columnar segment of the vector store: a packed row-major float32
  * matrix plus the row-aligned id array — the Spark-partitioned analog of
  * the reference's single contiguous `_vectors` matrix
  * (pico_vdb.py:136, 686-689). `norms` carries per-row double L2 norms
  * when the rows are NOT pre-normalized (cosine mode); null otherwise.
  * `meta` is the row-aligned metadata JSON, the analog of the
  * reference's `_docs` list beside `_vectors`: null for packs that carry
  * no meta, and a null entry is a live record without metadata.
  */
final class VecBlock[K](
    val ids: Array[K],
    val data: Array[Float],
    val dim: Int,
    val norms: Array[Double],
    val meta: Array[String] = null) extends Serializable {
  def rows: Int = ids.length
}

/** One ranked hit with its row copied out of the pack: `meta` is null
  * when the pack carries no meta or the record has none.
  */
final case class PackedHit[K](id: K, score: Double, meta: String,
                              vector: Array[Float])

/** Distributed packed-matrix vector store: `RDD[VecBlock]` persisted as
  * deserialized JVM objects, so "ingest-to-queryable" is one
  * normalize+pack pass and queries stream each block's matrix with SIMD
  * kernels — no per-row object overhead, no columnar-cache serialization.
  * A pack built by [[BlockStore.fromMetaDataset]] also holds each row's
  * meta, so [[topKMergedRows]] returns whole hits from the scan itself.
  *
  * Scale model: each block is one bounded slab (≤ `maxBlockFloats`
  * floats ≈ 128 MB) of one partition; a 100 TB store is just more
  * partitions on more executors. Query shuffle volume is
  * O(partitions × Q × k) candidate rows, independent of N.
  */
final class BlockStore[K](
    val blocks: RDD[VecBlock[K]],
    val normalized: Boolean)(implicit ct: ClassTag[K], ord: Ordering[K]) {

  def persist(): this.type = {
    blocks.persist(StorageLevel.MEMORY_ONLY)
    this
  }

  def unpersist(blocking: Boolean = false): Unit = blocks.unpersist(blocking)

  /** Force the build; returns total row count. */
  def materialize(): Long =
    blocks.map(_.rows.toLong).fold(0L)(_ + _)

  /** Batch top-k: (qid, id, score) candidate tuples, at most
    * partitions×Q×k of them; callers rank the survivors. The query-matrix
    * broadcast lives as long as the (lazy) returned RDD — prefer
    * [[topKMerged]] (synchronous; destroys its broadcast) for repeated
    * batches in long-lived sessions.
    *
    * `exact=true` scores with sequential double accumulation (bit-parity
    * with the DotProduct/L2NormSq expressions, so downstream rounding
    * hash-matches the declarative path); `exact=false` takes the SIMD
    * float32 kernels (the reference's own float32 GEMM precision,
    * pico_vdb.py:26).
    *
    * Queries are normalized here when `normalizeQueries` — with the exact
    * same arithmetic as the NormalizeL2 expression — UNLESS the store is
    * un-normalized (cosine mode), where raw-query/raw-row cosine is
    * computed to match `cosine_sim`: dot / (|q| * |v|), zero-norm -> 0.
    */
  def topK(
      queries: Array[(Long, Array[Float])],
      k: Int,
      betterThan: Option[Double] = None,
      normalizeQueries: Boolean = true,
      exact: Boolean = false): RDD[(Long, K, Double)] = {
    val (bc, threshold) = prepare(queries, betterThan, normalizeQueries)
    val kk = k
    val ex = exact
    val localOrd = ord // don't capture `this` in the task closure
    blocks.mapPartitions { it =>
      val (ids, qs, qn, _) = bc.value
      BlockStore.scorePartition(it, ids, qs, qn, kk, threshold, ex)(localOrd)
    }
  }

  /** Batch top-k as one shuffle-free job: per-partition bounded heaps are
    * merged up a treeAggregate (partitions×Q×k candidate tuples move over
    * the tree, never through a shuffle), and the fully-ranked result
    * lands on the driver — Q×k rows. This is the scale path: at
    * 1000 executors the reduction is logarithmic, and no Exchange/Window
    * ever materializes the candidate set.
    *
    * Returns per input query (in input order): ranked (id, score) hits.
    */
  def topKMerged(
      queries: Array[(Long, Array[Float])],
      k: Int,
      betterThan: Option[Double] = None,
      normalizeQueries: Boolean = true,
      exact: Boolean = false): Array[Array[(K, Double)]] = {
    val (bc, threshold) = prepare(queries, betterThan, normalizeQueries)
    val kk = k
    val ex = exact
    val localOrd = ord
    val nq = queries.length
    try {
    val merged = blocks.treeAggregate(null: Array[BoundedTopKG[K]])(
      seqOp = (acc, block) => {
        val (_, qs, qn, _) = bc.value
        val heaps = if (acc != null) acc
                    else Array.fill(qs.length)(new BoundedTopKG[K](kk)(localOrd))
        BlockStore.scoreBlock(heaps, block, qs, qn, threshold, ex)
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
    if (merged == null) Array.fill(nq)(Array.empty[(K, Double)])
    else merged.map(_.sortedHits())
    } finally {
      // the treeAggregate is synchronous — the query-matrix broadcast is
      // consumed by the time it returns; don't let long-lived sessions
      // accumulate broadcast blocks (one per batch) on driver+executors
      bc.destroy()
    }
  }

  /** [[topKMerged]] that also returns each hit's row (meta and vector),
    * so a caller needs no second lookup to build its answer. Each
    * partition scores its blocks with [[BlockStore.scoreBlock]] into the
    * same bounded heaps as [[topKMerged]] (kernels, scores and tie order
    * are identical), then copies its survivors' rows once, after its
    * last block. Heaps and rows merge up one treeAggregate, which keeps
    * only the rows its merged heaps still hold: one job, at most Q×k
    * rows per merge. A task keeps its partition's blocks referenced until
    * the copy: free for a persisted pack, and up to one partition's packed
    * data for a transient one.
    *
    * With a `member`, only the rows whose id it contains score
    * ([[BlockStore.scoreBlockMember]]); the test rides in the query
    * broadcast. That is how the store's `ids` restriction reads the
    * cached pack instead of packing its candidates.
    *
    * Returns per input query (in input order): the ranked hits.
    */
  def topKMergedRows(
      queries: Array[(Long, Array[Float])],
      k: Int,
      betterThan: Option[Double] = None,
      normalizeQueries: Boolean = true,
      exact: Boolean = false,
      member: Option[MemberTest[K]] = None): Array[Array[PackedHit[K]]] = {
    val (bc, threshold) = prepare(queries, betterThan, normalizeQueries, member)
    val kk = k
    val ex = exact
    val localOrd = ord
    val localCt = ct
    val nq = queries.length
    try {
      val merged = blocks.mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val (_, qs, qn, m) = bc.value
          val heaps = Array.fill(qs.length)(new BoundedTopKG[K](kk)(localOrd))
          val scanned = scala.collection.mutable.ArrayBuffer.empty[VecBlock[K]]
          it.foreach { b =>
            m match {
              case None => BlockStore.scoreBlock(heaps, b, qs, qn, threshold, ex)
              case Some(t) => BlockStore.scoreBlockMember(heaps, b, qs, qn, t,
                deny = false, ex, threshold)(localCt)
            }
            scanned += b
          }
          Iterator.single(HeapsWithRows.of(heaps, scanned))
        }
      }.treeAggregate(null: HeapsWithRows[K])(
        seqOp = HeapsWithRows.merge[K],
        combOp = HeapsWithRows.merge[K],
        depth = 2)
      if (merged == null) Array.fill(nq)(Array.empty[PackedHit[K]])
      else merged.heaps.map(_.sortedHits().map { case (id, s) =>
        val (meta, vector) = merged.rows.get(id)
        PackedHit(id, s, meta, vector)
      })
    } finally bc.destroy()
  }

  /** The rows of `ids` as id -> (meta, vector), in one job: each
    * partition copies out its hits ([[BlockStore.copyRows]]). Ids the
    * pack does not hold are absent; vectors are null unless
    * `withVectors`.
    */
  def rowsOf(ids: Iterable[K], withVectors: Boolean)
      : java.util.HashMap[K, (String, Array[Float])] = {
    val want = new java.util.HashSet[K]()
    ids.foreach(want.add)
    val rows = new java.util.HashMap[K, (String, Array[Float])](want.size * 2)
    if (!want.isEmpty) {
      val wv = withVectors
      blocks.mapPartitions { it =>
        val found = BlockStore.copyRows(it, new java.util.HashSet[K](want), wv)
        if (found.isEmpty) Iterator.empty else Iterator.single(found)
      }.collect().foreach(rows.putAll)
    }
    rows
  }

  /** The (id, vector) rows of the ids in `ids`, read from the blocks
    * as they stand: each partition copies out the rows it holds
    * ([[BlockStore.copyRows]]). Lazy, so `ids` must outlive every
    * action on the result.
    */
  def rowsIn(ids: Broadcast[Set[K]]): RDD[(K, Array[Float])] =
    blocks.mapPartitions { it =>
      val want = new java.util.HashSet[K]()
      ids.value.foreach(want.add)
      val found = BlockStore.copyRows(it, want, withVectors = true)
      val out = new Array[(K, Array[Float])](found.size)
      var i = 0
      found.forEach((id, row) => { out(i) = (id, row._2); i += 1 })
      out.iterator
    }

  private def prepare(
      queries: Array[(Long, Array[Float])],
      betterThan: Option[Double],
      normalizeQueries: Boolean,
      member: Option[MemberTest[K]] = None) = {
    val qids = queries.map(_._1)
    val cosineMode = !normalized
    val qvecs: Array[Array[Float]] =
      if (cosineMode || !normalizeQueries) queries.map(_._2)
      else queries.map(q => NormalizeL2.normalize(q._2))
    // Query-side norms for cosine mode (double, L2NormSq accumulation
    // order): the score divides by BOTH norms — dot / (|q| * |v|) — so
    // raw, un-normalized queries still yield true cosine. When the
    // caller declares queries pre-normalized (normalizeQueries=false on
    // unit queries), the norms are ~1 and the division is a no-op.
    val qnorms: Array[Double] =
      if (cosineMode) qvecs.map(v => math.sqrt(Kernels.normSqD(v))) else null
    val bc = blocks.sparkContext.broadcast((qids, qvecs, qnorms, member))
    (bc, betterThan.getOrElse(Double.NegativeInfinity))
  }
}

object BlockStore {

  /** ≤128 MB of packed floats per block. */
  val MaxBlockFloats: Int = 32 << 20

  /** Pack a typed dataset of (id, vector) into a BlockStore. When
    * `normalize`, rows get the write-time L2 invariant (zero -> e0);
    * otherwise raw rows are kept and per-row double norms are stored for
    * cosine scoring.
    */
  /** `normalize=true` applies the write-time L2 invariant while packing;
    * `assumeNormalized=true` skips both normalization and norm
    * bookkeeping for rows already known unit-length (e.g. a VdbStore's
    * `_vector_` column).
    */
  def fromDataset[K: ClassTag: Ordering](
      ds: Dataset[(K, Array[Float])],
      normalize: Boolean,
      assumeNormalized: Boolean = false,
      maxBlockFloats: Int = MaxBlockFloats): BlockStore[K] =
    fromRDD(ds.rdd, normalize, assumeNormalized, maxBlockFloats)

  def fromRDD[K: ClassTag: Ordering](
      rdd: RDD[(K, Array[Float])],
      normalize: Boolean,
      assumeNormalized: Boolean = false,
      maxBlockFloats: Int = MaxBlockFloats): BlockStore[K] =
    new BlockStore[K](
      rdd.mapPartitions(it =>
        packPartition(it, normalize, assumeNormalized, maxBlockFloats)),
      normalize || assumeNormalized)

  /** [[fromDataset]] over (id, vector, meta) rows: each block keeps the
    * rows' meta row-aligned in [[VecBlock.meta]].
    */
  def fromMetaDataset[K: ClassTag: Ordering](
      ds: Dataset[(K, Array[Float], String)],
      normalize: Boolean,
      assumeNormalized: Boolean = false,
      maxBlockFloats: Int = MaxBlockFloats): BlockStore[K] =
    new BlockStore[K](
      ds.rdd.mapPartitions(it =>
        packRows(it, withMeta = true, normalize, assumeNormalized, maxBlockFloats)),
      normalize || assumeNormalized)

  private[graft] def packPartition[K: ClassTag](
      it: Iterator[(K, Array[Float])],
      normalize: Boolean,
      assumeNormalized: Boolean = false,
      maxBlockFloats: Int = MaxBlockFloats): Iterator[VecBlock[K]] =
    packRows(it.map { case (id, v) => (id, v, null: String) }, withMeta = false,
      normalize, assumeNormalized, maxBlockFloats)

  private def packRows[K: ClassTag](
      it: Iterator[(K, Array[Float], String)],
      withMeta: Boolean,
      normalize: Boolean,
      assumeNormalized: Boolean,
      maxBlockFloats: Int): Iterator[VecBlock[K]] = {
    if (!it.hasNext) return Iterator.empty
    new Iterator[VecBlock[K]] {
      override def hasNext: Boolean = it.hasNext
      override def next(): VecBlock[K] = {
        val (id0, v0, meta0) = it.next()
        val dim = v0.length
        val maxRows = math.max(1, maxBlockFloats / math.max(1, dim))
        val ids = Array.newBuilder[K]
        var data = new Array[Float](math.min(maxRows, 4096) * dim)
        val norms = Array.newBuilder[Double]
        val metas = if (withMeta) Array.newBuilder[String] else null
        var rows = 0
        var row: Array[Float] = v0
        var id: K = id0
        var meta: String = meta0
        var more = true
        while (more) {
          if ((rows + 1) * dim > data.length)
            data = java.util.Arrays.copyOf(data, math.min(maxRows, data.length / dim * 2) * dim)
          val off = rows * dim
          if (normalize) {
            // same arithmetic as the NormalizeL2 expression
            var s = 0.0
            var i = 0
            while (i < dim) { s += row(i).toDouble * row(i).toDouble; i += 1 }
            if (s == 0.0) {
              java.util.Arrays.fill(data, off, off + dim, 0f)
              if (dim > 0) data(off) = 1.0f
            } else {
              val inv = 1.0 / math.sqrt(s)
              var j = 0
              while (j < dim) { data(off + j) = (row(j) * inv).toFloat; j += 1 }
            }
          } else {
            System.arraycopy(row, 0, data, off, dim)
            if (!assumeNormalized) norms += math.sqrt(Kernels.normSqD(row))
          }
          ids += id
          if (metas != null) metas += meta
          rows += 1
          if (rows < maxRows && it.hasNext) {
            val n = it.next(); id = n._1; row = n._2; meta = n._3
            require(row.length == dim, s"vector dim ${row.length} != $dim in block")
          } else more = false
        }
        val packed = if (rows * dim == data.length) data
                     else java.util.Arrays.copyOf(data, rows * dim)
        new VecBlock[K](ids.result(), packed, dim,
          if (normalize || assumeNormalized) null else norms.result(),
          if (metas == null) null else metas.result())
      }
    }
  }

  /** Copy the rows of the `want` ids out of `blocks`, as id ->
    * (meta, vector), with a null vector unless `withVectors`. Found ids
    * leave `want`, and the scan stops once it is empty: ids are unique
    * within a pack.
    */
  private[core] def copyRows[K](
      blocks: Iterator[VecBlock[K]],
      want: java.util.Set[K],
      withVectors: Boolean): java.util.HashMap[K, (String, Array[Float])] = {
    val rows = new java.util.HashMap[K, (String, Array[Float])](want.size * 2)
    while (!want.isEmpty && blocks.hasNext) {
      val b = blocks.next()
      var r = 0
      while (r < b.rows && !want.isEmpty) {
        val id = b.ids(r)
        if (want.remove(id))
          rows.put(id, (if (b.meta == null) null else b.meta(r),
            if (withVectors) java.util.Arrays.copyOfRange(b.data, r * b.dim, (r + 1) * b.dim)
            else null))
        r += 1
      }
    }
    rows
  }

  /** The hot loop: stream every block once, tile rows so a ~512 KB row
    * tile stays cache-resident while all queries pass over it (4 queries
    * share each row load via dot4), maintain one bounded heap per query.
    */
  private[core] def scorePartition[K](
      blocks: Iterator[VecBlock[K]],
      qids: Array[Long],
      qs: Array[Array[Float]],
      qnorms: Array[Double], // non-null => cosine mode (un-normalized store)
      k: Int,
      threshold: Double,
      exact: Boolean)(implicit ord: Ordering[K]): Iterator[(Long, K, Double)] = {
    val nq = qs.length
    val heaps = Array.fill(nq)(new BoundedTopKG[K](k))
    while (blocks.hasNext)
      scoreBlock(heaps, blocks.next(), qs, qnorms, threshold, exact)
    heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
      h.drain().map { case (s, id) => (qids(qi), id, s) }
    }
  }

  /** [[scoreBlock]] restricted to the rows passing a membership test
    * (round 16, the filtered-ANN scan): rows whose id is in `member`
    * score when `deny` is false, rows NOT in it when `deny` is true
    * (the anti-selective polarity — broadcast the small complement
    * instead of a huge allow list). Survivors compact into a temp slab
    * first so the tiled dot4 kernels still apply — a row-wise
    * test-and-score loop loses the panel amortization that makes the
    * packed scan fast, and the one copy pass (4·dim bytes per
    * surviving row) is shared across every query probing the bucket.
    * All-pass blocks skip the copy and take [[scoreBlock]] directly.
    */
  private[graft] def scoreBlockMember[K](
      heaps: Array[BoundedTopKG[K]],
      b: VecBlock[K],
      qs: Array[Array[Float]],
      qnorms: Array[Double],
      member: MemberTest[K],
      deny: Boolean,
      exact: Boolean,
      threshold: Double = Double.NegativeInfinity)(
      implicit ct: ClassTag[K]): Unit = {
    val rows = b.rows
    val keep = new Array[Int](rows)
    var n = 0
    var r = 0
    while (r < rows) {
      if (member.contains(b.ids(r)) != deny) { keep(n) = r; n += 1 }
      r += 1
    }
    if (n == 0) return
    if (n == rows) {
      scoreBlock(heaps, b, qs, qnorms, threshold, exact)
      return
    }
    if (qs.length == 1) {
      // batch size one: the dot4 panels amortize row loads across
      // QUERIES, so there is nothing for the compaction to preserve —
      // score the survivors in place instead of paying the copy
      // (measured 2.8x on the single-query serving bench before this).
      // Arithmetic mirrors scoreBlock's per-mode scalar loops exactly
      // (double-dot / f32-dot, reciprocal-then-divide cosine), so the
      // two shapes stay bit-equal.
      val q = qs(0)
      val h = heaps(0)
      val cosine = qnorms != null
      val qn = if (cosine) qnorms(0) else 0.0
      val invQ = if (cosine) { if (qn == 0.0) 0.0 else 1.0 / qn } else 0.0
      val d = b.dim
      var i = 0
      while (i < n) {
        val r = keep(i)
        var s =
          if (exact) Kernels.dotPackedD(q, b.data, r * d)
          else Kernels.dotPackedF(q, b.data, r * d).toDouble
        if (cosine) {
          val vn = b.norms(r)
          s =
            if (exact) { if (qn == 0.0 || vn == 0.0) 0.0 else s / (qn * vn) }
            else { if (vn == 0.0) 0.0 else s * invQ / vn }
        }
        if (s >= threshold) h.offer(s, b.ids(r))
        i += 1
      }
      return
    }
    val dim = b.dim
    val ids2 = new Array[K](n)
    val data2 = new Array[Float](n * dim)
    val norms2 = if (b.norms == null) null else new Array[Double](n)
    var i = 0
    while (i < n) {
      val src = keep(i)
      ids2(i) = b.ids(src)
      System.arraycopy(b.data, src * dim, data2, i * dim, dim)
      if (norms2 != null) norms2(i) = b.norms(src)
      i += 1
    }
    scoreBlock(heaps, new VecBlock[K](ids2, data2, dim, norms2), qs, qnorms,
      threshold, exact)
  }

  /** Score one block into the per-query heaps. */
  private[graft] def scoreBlock[K](
      heaps: Array[BoundedTopKG[K]],
      b: VecBlock[K],
      qs: Array[Array[Float]],
      qnorms: Array[Double],
      threshold: Double,
      exact: Boolean): Unit = {
    val nq = qs.length
    val cosine = qnorms != null
    val data = b.data
    val ids = b.ids
    val dim = b.dim
    val rows = b.rows
    val vnorms = b.norms
    if (exact) {
        var qi = 0
        while (qi < nq) {
          val q = qs(qi)
          val h = heaps(qi)
          val qn = if (cosine) qnorms(qi) else 0.0
          var r = 0
          var off = 0
          while (r < rows) {
            var s = Kernels.dotPackedD(q, data, off)
            if (cosine) {
              val vn = vnorms(r)
              s = if (qn == 0.0 || vn == 0.0) 0.0 else s / (qn * vn)
            }
            if (s >= threshold) h.offer(s, ids(r))
            r += 1
            off += dim
          }
          qi += 1
        }
      } else {
        val out = new Array[Float](4)
        // per-query inverse norms for cosine (0 when |q| == 0 -> score 0)
        val invQ: Array[Double] =
          if (cosine) qnorms.map(qn => if (qn == 0.0) 0.0 else 1.0 / qn) else null
        val tileRows = math.max(1, 524288 / math.max(1, dim * 4)) // ~512 KB tile
        var t0 = 0
        while (t0 < rows) {
          val tEnd = math.min(t0 + tileRows, rows)
          var qi = 0
          val nq4 = nq - 3
          while (qi < nq4) {
            val q0 = qs(qi); val q1 = qs(qi + 1); val q2 = qs(qi + 2); val q3 = qs(qi + 3)
            val h0 = heaps(qi); val h1 = heaps(qi + 1); val h2 = heaps(qi + 2); val h3 = heaps(qi + 3)
            var r = t0
            var off = t0 * dim
            while (r < tEnd) {
              Kernels.dot4PackedF(q0, q1, q2, q3, data, off, out)
              if (cosine) {
                val vn = vnorms(r)
                val inv = if (vn == 0.0) 0.0 else 1.0 / vn
                val s0 = out(0) * inv * invQ(qi)
                val s1 = out(1) * inv * invQ(qi + 1)
                val s2 = out(2) * inv * invQ(qi + 2)
                val s3 = out(3) * inv * invQ(qi + 3)
                if (s0 >= threshold) h0.offer(s0, ids(r))
                if (s1 >= threshold) h1.offer(s1, ids(r))
                if (s2 >= threshold) h2.offer(s2, ids(r))
                if (s3 >= threshold) h3.offer(s3, ids(r))
              } else {
                if (out(0) >= threshold) h0.offer(out(0).toDouble, ids(r))
                if (out(1) >= threshold) h1.offer(out(1).toDouble, ids(r))
                if (out(2) >= threshold) h2.offer(out(2).toDouble, ids(r))
                if (out(3) >= threshold) h3.offer(out(3).toDouble, ids(r))
              }
              r += 1
              off += dim
            }
            qi += 4
          }
          while (qi < nq) {
            val q = qs(qi)
            val h = heaps(qi)
            var r = t0
            var off = t0 * dim
            while (r < tEnd) {
              var s = Kernels.dotPackedF(q, data, off).toDouble
              if (cosine) {
                val vn = vnorms(r)
                s = if (vn == 0.0) 0.0 else s * invQ(qi) / vn
              }
              if (s >= threshold) h.offer(s, ids(r))
              r += 1
              off += dim
            }
            qi += 1
          }
          t0 = tEnd
        }
      }
  }
}

/** One partition's (or one merge's) per-query heaps plus the rows of
  * the ids they hold, keyed by id: (meta, vector). The partial result of
  * [[BlockStore.topKMergedRows]].
  */
private[core] final class HeapsWithRows[K](
    val heaps: Array[BoundedTopKG[K]],
    val rows: java.util.HashMap[K, (String, Array[Float])]) extends Serializable

private[core] object HeapsWithRows {

  /** Copy the rows of every id the heaps hold out of the blocks they
    * were scored from.
    */
  def of[K](heaps: Array[BoundedTopKG[K]],
            blocks: Iterable[VecBlock[K]]): HeapsWithRows[K] =
    new HeapsWithRows(heaps,
      BlockStore.copyRows(blocks.iterator, held(heaps), withVectors = true))

  /** treeAggregate seqOp/combOp: absorb b's heaps into a's, then keep
    * only the rows the merged heaps still hold.
    */
  def merge[K](a: HeapsWithRows[K], b: HeapsWithRows[K]): HeapsWithRows[K] =
    if (a == null) b
    else if (b == null) a
    else {
      var i = 0
      while (i < a.heaps.length) { a.heaps(i).absorb(b.heaps(i)); i += 1 }
      a.rows.putAll(b.rows)
      a.rows.keySet.retainAll(held(a.heaps))
      a
    }

  private def held[K](heaps: Array[BoundedTopKG[K]]): java.util.HashSet[K] = {
    val ids = new java.util.HashSet[K]()
    heaps.foreach(_.drain().foreach { case (_, id) => ids.add(id) })
    ids
  }
}

/** Fixed-capacity top-k accumulator over arbitrary id types: min-heap on
  * (score, id) with the deterministic tie-break score desc / id asc
  * (matches the Window orderBy in the declarative path — including
  * NaN-is-largest and -0.0 == 0.0, the SQL double ordering). offer()
  * only pays O(log k) when the candidate beats the current floor.
  */
final class BoundedTopKG[K](k: Int)(implicit ord: Ordering[K]) extends Serializable {
  private val scores = new Array[Double](k)
  private val ids = new Array[AnyRef](k)
  private var size = 0

  // a "worse" element has smaller score, or equal score with larger id.
  // Double.compare, not `<`: a NaN at the heap root would otherwise
  // compare false against everything and block all later admissions
  // (Spark's double ordering places NaN largest the same way).
  @inline private def worse(s1: Double, i1: AnyRef, s2: Double, i2: AnyRef): Boolean = {
    val c = java.lang.Double.compare(s1, s2)
    c < 0 || (c == 0 && ord.gt(i1.asInstanceOf[K], i2.asInstanceOf[K]))
  }

  def offer(s0: Double, id: K): Unit = {
    val s = s0 + 0.0 // canonicalize -0.0 (SQL treats -0.0 == 0.0; Double.compare doesn't)
    val ref = id.asInstanceOf[AnyRef]
    if (size < k) {
      scores(size) = s; ids(size) = ref; size += 1
      siftUp(size - 1)
    } else if (k > 0 && worse(scores(0), ids(0), s, ref)) {
      scores(0) = s; ids(0) = ref
      siftDown(0)
    }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(scores(i), ids(i), scores(p), ids(p))) {
        swap(i, p); i = p
      } else return
    }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var continue = true
    while (continue) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < size && worse(scores(l), ids(l), scores(m), ids(m))) m = l
      if (r < size && worse(scores(r), ids(r), scores(m), ids(m))) m = r
      if (m != i) { swap(i, m); i = m } else continue = false
    }
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val ts = scores(i); scores(i) = scores(j); scores(j) = ts
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
  }

  def drain(): Iterator[(Double, K)] =
    (0 until size).iterator.map(i => (scores(i), ids(i).asInstanceOf[K]))

  /** Elements currently held (≤ k) — the adaptive re-probe loop's
    * underfill signal.
    */
  def filled: Int = size

  /** Fold another heap's contents into this one (treeAggregate combOp). */
  def absorb(other: BoundedTopKG[K]): Unit = {
    var i = 0
    while (i < other.size) {
      offer(other.scores(i), other.ids(i).asInstanceOf[K])
      i += 1
    }
  }

  /** Final ranked hits: (id, score) ordered score desc, id asc (NaN
    * first, like the SQL desc ordering).
    */
  def sortedHits(): Array[(K, Double)] = {
    val arr = new Array[(K, Double)](size)
    var i = 0
    while (i < size) { arr(i) = (ids(i).asInstanceOf[K], scores(i)); i += 1 }
    scala.util.Sorting.stableSort(arr, (a: (K, Double), b: (K, Double)) => {
      val c = java.lang.Double.compare(a._2, b._2)
      c > 0 || (c == 0 && ord.lt(a._1, b._1))
    })
    arr
  }
}
