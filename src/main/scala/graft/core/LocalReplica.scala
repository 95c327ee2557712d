package graft.core

/** Driver-local serving replica — the point-query latency path.
  *
  * The distributed store's `queryOne` answers through a Spark job:
  * correct, but a scheduler round-trip (tens of ms) dominates a single
  * query at the reference's published 0.4 ms/query serving latency
  * (picovdb README.md:75, HNSW efSearch=32 on an in-process store).
  * That number is fundamentally an IN-PROCESS claim — no distributed
  * engine answers a point query in 0.4 ms through a cluster scheduler
  * — so the honest analog is this snapshot replica: the packed float32
  * slabs (and, when the store's IVF index is fresh, its bucket
  * structure + centroids) collected once to the serving process, then
  * scored in-process with the SAME kernels, heap, tie rule, and
  * threshold semantics as the distributed exact path (bit-parity
  * spec-pinned in VdbStoreSpec).
  *
  * Scale contract: a replica is bounded by `maxRows` at build
  * (default 2M rows ≈ 8 GB at 1024-d — a serving box, not a cluster);
  * the 100 TB store itself stays distributed, and a serving tier holds
  * replicas of the (bounded) slices it serves, exactly how vector
  * stores deploy read replicas. The replica is an immutable SNAPSHOT
  * (`version` tags the store version it was cut from): mutations to
  * the source store do not flow in — rebuild to refresh, compare
  * `version` against the store's to detect staleness.
  */
final class LocalReplica private[core] (
    val dim: Int,
    val version: Long,
    centroids: Array[Array[Double]], // empty -> exact scans only
    bucketBlocks: Array[Array[VecBlock[String]]], // aligned to centroids (or length 1)
    metaOf: java.util.HashMap[String, String],
    rowOf: java.util.HashMap[String, (VecBlock[String], Int)],
    exactScore: Boolean,
    pqBookOpt: Option[PqCodebook] = None) {

  def size: Int = rowOf.size()
  def nList: Int = centroids.length

  private def allBlocks: Array[VecBlock[String]] = bucketBlocks.flatten

  // ---- optional HNSW graph (round 13): graph-ANN recall class on the
  // serving path — see Hnsw's scaladoc for why it lives HERE and not
  // on the distributed store
  @volatile private var hnswIdx: Hnsw = null
  @volatile private var hnswIds: Array[String] = null

  /** "built" after a real graph construction, "loaded" after a
    * [[buildHnsw]] quick-load, "none" before either.
    */
  @volatile private var hnswSourceVar: String = "none"
  def hnswSource: String = hnswSourceVar

  /** Build (idempotently) an HNSW graph over this replica's rows.
    * Driver-side and deterministic; cost is the one-time build (the
    * reference pays 50-110 s for the same store through FAISS — see
    * the VDBSERVE rows for ours).
    *
    * `cachePath` is the reference's quick-load contract
    * (pico_vdb.py:230-237, 260-283): a LOCAL file holding the graph
    * topology + its row order from a previous session. When it names a
    * graph that matches this replica's rows — same id set, same dim,
    * and a checksum over the vectors reassembled in the file's row
    * order — the replica serves from it in the O(n·dim) assembly time
    * instead of the O(n·log n·m) build (seconds vs minutes at serving
    * scale; SCALING.md "VDBSERVE"). Any mismatch or torn file degrades
    * to a build, and a fresh build rewrites the cache (best-effort) so
    * the NEXT cold start quick-loads. Checksum-over-content, not store
    * version: versions reset across JVM restarts, which is exactly
    * when the cache matters.
    */
  def buildHnsw(m: Int = 16, efConstruction: Int = 100,
                cachePath: Option[String] = None): Unit =
    if (hnswIdx == null) synchronized {
      if (hnswIdx == null) {
        val total = size
        // flat-matrix size must fit an Int-indexed array — fail loudly
        // at the contract boundary when maxRows was raised past it
        // (review r13: 3M x 1024-d wraps negative)
        require(total.toLong * dim <= Int.MaxValue,
          s"buildHnsw: $total rows x $dim dims exceeds a single JVM " +
            "array — an HNSW replica caps at Int.MaxValue floats")
        if (!cachePath.exists(p => tryQuickLoad(p, m, efConstruction))) {
          val flat = new Array[Float](total * dim)
          val ids = new Array[String](total)
          var off = 0
          bucketBlocks.foreach(_.foreach { b =>
            System.arraycopy(b.data, 0, flat, off * dim, b.rows * dim)
            var r = 0
            while (r < b.rows) { ids(off + r) = b.ids(r); r += 1 }
            off += b.rows
          })
          hnswIds = ids
          hnswIdx = Hnsw.build(flat, total, dim, m, efConstruction)
          hnswSourceVar = "built"
          cachePath.foreach(p => writeQuickLoad(p, ids, flat, m, efConstruction))
        }
      }
    }

  private def vectorOf(id: String, out: Array[Float], off: Int): Boolean = {
    val slot = rowOf.get(id)
    if (slot == null) false
    else {
      val (b, r) = slot
      System.arraycopy(b.data, r * b.dim, out, off, b.dim)
      true
    }
  }

  /** [[matrixHash]] streamed row-by-row through a dim-sized scratch —
    * same bits, none of the O(n·dim) buffer (the PQ cache paths have
    * no other reason to materialize the flat matrix; a 100k×1024
    * replica's 400 MB spike OOMed the serving bench before this).
    * Throws (into the callers' NonFatal fallback) on an id the
    * replica doesn't hold.
    */
  private def rowsHash(ids: Iterator[String]): Long = {
    val scratch = new Array[Float](dim)
    var h = 0xCBF29CE484222325L
    ids.foreach { id =>
      require(vectorOf(id, scratch, 0), s"id $id not in replica")
      var i = 0
      while (i < dim) {
        h = (h ^ java.lang.Float.floatToRawIntBits(scratch(i))) * 0x100000001B3L
        i += 1
      }
    }
    h
  }

  // FNV-1a over the float bits — order-sensitive by design (the graph's
  // node numbering IS the row order)
  private def matrixHash(flat: Array[Float], n: Int): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    val lim = n * dim
    while (i < lim) {
      h = (h ^ java.lang.Float.floatToRawIntBits(flat(i))) * 0x100000001B3L
      i += 1
    }
    h
  }

  private def tryQuickLoad(path: String, m: Int, efc: Int): Boolean = {
    val f = new java.io.File(path)
    if (!f.isFile) return false
    try {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(f), 1 << 16))
      try {
        require(in.readInt() == LocalReplica.QuickLoadMagic, "not a replica graph file")
        require(in.readInt() == LocalReplica.QuickLoadFormat, "unsupported format")
        val (fm, fe) = (in.readInt(), in.readInt())
        require(fm == m && fe == efc,
          s"cached graph built with (m=$fm, efC=$fe), requested (m=$m, efC=$efc)")
        val fdim = in.readInt()
        val n = in.readInt()
        require(fdim == dim && n == size,
          s"cached graph shape ($fdim, $n) != replica ($dim, $size)")
        val wantHash = in.readLong()
        val ids = new Array[String](n)
        val flat = new Array[Float](n * dim)
        var i = 0
        while (i < n) {
          val len = in.readInt()
          require(len >= 0 && len <= (1 << 24), s"corrupt id length $len")
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          val id = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          require(vectorOf(id, flat, i * dim), s"cached graph id $id not in replica")
          ids(i) = id
          i += 1
        }
        require(matrixHash(flat, n) == wantHash,
          "cached graph was built over different vectors")
        val g = Hnsw.readGraph(in, flat, dim)
        require(g.n == n, s"cached graph covers ${g.n} nodes, replica has $n")
        hnswIds = ids
        hnswIdx = g
        hnswSourceVar = "loaded"
        true
      } finally in.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger("graft.replica").warn(
          s"graft: replica graph quick-load from $path failed " +
            s"(${e.getMessage}) — building instead")
        false
    }
  }

  private def writeQuickLoad(path: String, ids: Array[String],
                             flat: Array[Float], m: Int, efc: Int): Unit =
    try {
      // tmp + atomic move, the StoreIO discipline: a crash mid-write
      // must leave either the old cache or none, never a torn file
      val target = java.nio.file.Paths.get(path)
      if (target.getParent != null) java.nio.file.Files.createDirectories(target.getParent)
      val tmp = java.nio.file.Files.createTempFile(
        Option(target.getParent).getOrElse(java.nio.file.Paths.get(".")),
        ".replica-hnsw", ".tmp")
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(tmp), 1 << 16))
      try {
        out.writeInt(LocalReplica.QuickLoadMagic)
        out.writeInt(LocalReplica.QuickLoadFormat)
        out.writeInt(m)
        out.writeInt(efc)
        out.writeInt(dim)
        out.writeInt(ids.length)
        out.writeLong(matrixHash(flat, ids.length))
        var i = 0
        while (i < ids.length) {
          val bytes = ids(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.writeInt(bytes.length)
          out.write(bytes)
          i += 1
        }
        hnswIdx.writeGraph(out)
      } finally out.close()
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger("graft.replica").warn(
          s"graft: failed to write replica graph cache at $path: ${e.getMessage}")
    }

  /** Graph-ANN top-k (requires [[buildHnsw]]); `ef` = efSearch beam.
    * Same query prep and hit shape as [[queryOne]]; approximate by
    * construction — recall floors are spec- and bench-measured.
    */
  def queryOneHnsw(vector: Array[Float], topK: Int = 10,
                   ef: Int = 64): Seq[VdbHit] = {
    require(hnswIdx != null, "call buildHnsw() first")
    require(vector.length == dim,
      s"query vector dim mismatch: expected $dim, got ${vector.length}")
    val q = graft.functions.NormalizeL2.normalize(vector)
    hnswIdx.search(q, topK, ef).map { case (node, s) =>
      val id = hnswIds(node)
      VdbHit(id, s, Option(metaOf.get(id)), None)
    }.toSeq
  }

  /** Membership-filtered graph top-k (round 17, requires
    * [[buildHnsw]]) — the serving twin of
    * [[graft.operators.HnswStore.searchMergedMember]]. The whereFn
    * filter ((id, metaJson) => keep, the reference's callable shape)
    * applies at beam RESULT collection ([[Hnsw.searchFiltered]], the
    * FAISS `IDSelector` shape — traversal never skips nodes, the beam
    * expands until ef accepted rows), and an underfilled beam — which
    * has provably exhausted the graph's entry component — snaps to
    * the exact filtered slab scan, so sub-k results happen only when
    * the filtered replica holds fewer than k rows. Explicit by NAME:
    * the default serving path under a filter stays the exact scan
    * ([[queryOne]] with whereFn — the store's O28 default); calling
    * this is the opt-in to graph recall under the filter, mirroring
    * `graft.ann.filtered` on the distributed store.
    */
  def queryOneHnswFiltered(vector: Array[Float], topK: Int = 10,
                           ef: Int = 64,
                           whereFn: (String, String) => Boolean): Seq[VdbHit] = {
    require(hnswIdx != null, "call buildHnsw() first")
    require(vector.length == dim,
      s"query vector dim mismatch: expected $dim, got ${vector.length}")
    val q = graft.functions.NormalizeL2.normalize(vector)
    val ids = hnswIds
    val hits = hnswIdx.searchFiltered(q, topK, ef,
      node => { val id = ids(node); whereFn(id, metaOf.get(id)) })
    if (hits.length >= topK)
      hits.map { case (node, s) =>
        val id = ids(node)
        VdbHit(id, s, Option(metaOf.get(id)), None)
      }.toSeq
    else queryOne(vector, topK, whereFn = Some(whereFn))
  }

  @volatile private var hnswQ8Var: (Array[Byte], Array[Float]) = null

  /** Quantize the graph's node matrix to int8, idempotently (requires
    * [[buildHnsw]]) — the serving-side half of the hnsw-filtered+q8
    * composition (round 18). No quick-load cache for the same reason
    * as [[buildQ8]]: quantization costs one multiply+round per byte
    * produced.
    */
  def buildHnswQ8(): Unit =
    if (hnswQ8Var == null) synchronized {
      require(hnswIdx != null, "call buildHnsw() first")
      if (hnswQ8Var == null) hnswQ8Var = hnswIdx.quantizeNodes()
    }

  /** [[queryOneHnswFiltered]] with the int8 traversal composition
    * (round 18, requires [[buildHnsw]] + [[buildHnswQ8]]) — the
    * serving twin of the store's "hnsw-filtered+q8" strategy
    * ([[graft.operators.HnswStore.searchMergedMemberQ8]]): the
    * filtered beam walks the INT8 copy of the node matrix (4× less
    * traversal bandwidth — the win matters most here, where the
    * reference's 0.4 ms/query headline lives), widened to
    * `max(ef, topK×overfetch)` so the candidate cut has that many
    * ACCEPTED rows in hand, and the survivors rescore through
    * [[rescoreExact]]'s double arithmetic — so at a covering beam +
    * covering overfetch the result matches [[queryOne]]'s exact
    * filtered scan hit-for-hit (spec-pinned). Underfill (< topK
    * accepted — the beam provably exhausted the entry component, the
    * [[Hnsw.searchFilteredQ8]] termination contract) snaps to the
    * exact filtered scan, exactly like the fp32 twin. Explicit by
    * NAME, the same opt-in rule as [[queryOneHnswFiltered]].
    */
  def queryOneHnswFilteredQ8(vector: Array[Float], topK: Int = 10,
                             ef: Int = 64,
                             whereFn: (String, String) => Boolean,
                             overfetch: Int = 4): Seq[VdbHit] = {
    require(hnswIdx != null, "call buildHnsw() first")
    require(hnswQ8Var != null, "call buildHnswQ8() first")
    require(vector.length == dim,
      s"query vector dim mismatch: expected $dim, got ${vector.length}")
    val q = graft.functions.NormalizeL2.normalize(vector)
    val ids = hnswIds
    val scanK = math.max(topK, topK * math.max(1, overfetch))
    val (codes, scales) = hnswQ8Var
    val hits = hnswIdx.searchFilteredQ8(q, scanK, math.max(ef, scanK),
      node => { val id = ids(node); whereFn(id, metaOf.get(id)) },
      codes, scales)
    if (hits.length >= topK)
      rescoreExact(q, hits.map(t => ids(t._1)).toSeq, topK)
    else queryOne(vector, topK, whereFn = Some(whereFn))
  }

  // ---- optional compression tiers (round 16): the store's q8/pq
  // serving rungs, in-process. Same shape as the distributed
  // strategies — compressed candidate scan, then the exact
  // double-accumulated fp32 rescore over the replica slabs — so at
  // covering overfetch results match queryOne hit-for-hit.

  @volatile private var q8Blocks: Array[Q8Block[String]] = null

  /** Quantize the replica's slabs to the int8 tier, idempotently.
    * There is deliberately NO quick-load cache here: int8 quantization
    * is one multiply+round per byte PRODUCED, i.e. the same order of
    * work as reading the codes from disk — a cache file would save
    * nothing (the PQ tier is different: encoding costs ksub
    * distance evaluations per code byte, see [[buildPq]]).
    */
  def buildQ8(): Unit =
    if (q8Blocks == null) synchronized {
      if (q8Blocks == null)
        q8Blocks = allBlocks.map(Q8Store.quantize[String])
    }

  @volatile private var pqBlocks: Array[PqBlock[String]] = null
  @volatile private var pqBookVar: PqCodebook = null

  /** "encoded" after a local encode, "loaded" after a [[buildPq]]
    * quick-load, "none" before either.
    */
  @volatile private var pqSourceVar: String = "none"
  def pqSource: String = pqSourceVar

  /** Build (idempotently) the PQ serving tier. The codebook — the
    * tier's TRAINED state — comes from the replica's source store when
    * its PQ strategy was enabled (zero k-means here, the
    * `_pq_codebook` sidecar story extended to serving:
    * pico_vdb.py:230-237); a replica cut from a store without one
    * falls back to a deterministic local train over a strided sample
    * (logged — the only path where [[PqStore.trainsInJvm]] moves).
    *
    * `cachePath` is the same quick-load contract as [[buildHnsw]]'s
    * graph cache, for the codes: encoding costs `ksub` distance
    * evaluations per code byte (256x the int8 tier's work — minutes
    * of driver CPU at serving scale), so a cold start that re-reads
    * validated codes instead finishes in I/O time. The file carries
    * ids + a checksum over the vectors reassembled in its row order
    * (content, not store version — versions reset across JVM
    * restarts, which is exactly when the cache matters), the codebook,
    * and the codes; any mismatch or torn file degrades to an encode
    * that rewrites the cache.
    */
  def buildPq(m: Int = 0, cachePath: Option[String] = None): Unit =
    if (pqBlocks == null) synchronized {
      if (pqBlocks == null) {
        val mm = if (m > 0) m else PqStore.autoM(dim)
        if (!cachePath.exists(p => tryQuickLoadPq(p, mm))) {
          val book = pqBookOpt.filter(b => b.m == mm && b.dim == dim)
            .getOrElse {
              org.slf4j.LoggerFactory.getLogger("graft.replica").warn(
                "graft: replica has no carried PQ codebook (source store's " +
                  "pq strategy was off) — training locally on a strided sample")
              val blocks = allBlocks
              val total = size
              val stride = math.max(1, total / 20000)
              val sample = Array.newBuilder[Array[Float]]
              var seen = 0
              blocks.foreach { b =>
                var r = 0
                while (r < b.rows) {
                  if (seen % stride == 0)
                    sample += java.util.Arrays.copyOfRange(
                      b.data, r * b.dim, (r + 1) * b.dim)
                  seen += 1
                  r += 1
                }
              }
              PqStore.trainOnRows(sample.result(), mm, 256, 42L, 8)
            }
          val blocks = allBlocks
          val encoded = new Array[PqBlock[String]](blocks.length)
          java.util.stream.IntStream.range(0, blocks.length).parallel()
            .forEach { i => encoded(i) = PqStore.encode(book, blocks(i)) }
          pqBookVar = book
          pqBlocks = encoded
          pqSourceVar = "encoded"
          cachePath.foreach(p => writeQuickLoadPq(p, book, encoded))
        }
      }
    }

  private def tryQuickLoadPq(path: String, m: Int): Boolean = {
    val f = new java.io.File(path)
    if (!f.isFile) return false
    try {
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
        new java.io.FileInputStream(f), 1 << 16))
      try {
        require(in.readInt() == LocalReplica.PqQuickLoadMagic, "not a replica PQ file")
        require(in.readInt() == LocalReplica.PqQuickLoadFormat, "unsupported format")
        val (fm, fksub) = (in.readInt(), in.readInt())
        require(fm == m, s"cached codes use m=$fm, requested m=$m")
        require(fksub >= 1 && fksub <= 256, s"corrupt ksub $fksub")
        val fdim = in.readInt()
        val n = in.readInt()
        require(fdim == dim && n == size,
          s"cached codes shape ($fdim, $n) != replica ($dim, $size)")
        val wantHash = in.readLong()
        // the vector checksum proves the ROWS; this one proves the
        // DERIVED state (a flipped codebook float or code byte would
        // otherwise serve silently degraded candidates — the StoreIO
        // codebook-coverage lesson applied here)
        val wantDerived = in.readLong()
        val ids = new Array[String](n)
        var i = 0
        while (i < n) {
          val len = in.readInt()
          require(len >= 0 && len <= (1 << 24), s"corrupt id length $len")
          val bytes = new Array[Byte](len)
          in.readFully(bytes)
          ids(i) = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          i += 1
        }
        require(rowsHash(ids.iterator) == wantHash,
          "cached codes were encoded over different vectors")
        val dsub = dim / m
        val bookFlat = new Array[Float](m * fksub * dsub)
        var bi = 0
        while (bi < bookFlat.length) { bookFlat(bi) = in.readFloat(); bi += 1 }
        val codes = new Array[Byte](n.toLong.toInt * m)
        in.readFully(codes)
        require(LocalReplica.derivedHash(bookFlat, codes) == wantDerived,
          "cached codebook/codes are corrupt")
        // chunk into slab-sized blocks for parallel scan grain
        val chunk = math.max(1, (2 * 1024 * 1024) / math.max(1, m))
        val nBlocks = (n + chunk - 1) / math.max(1, chunk)
        val blocks = new Array[PqBlock[String]](math.max(1, nBlocks))
        if (n == 0) blocks(0) = new PqBlock[String](Array.empty, Array.empty, m, null)
        else {
          var b = 0
          while (b < nBlocks) {
            val lo = b * chunk
            val hi = math.min(n, lo + chunk)
            blocks(b) = new PqBlock[String](
              java.util.Arrays.copyOfRange(ids.asInstanceOf[Array[AnyRef]], lo, hi)
                .asInstanceOf[Array[String]],
              java.util.Arrays.copyOfRange(codes, lo * m, hi * m), m, null)
            b += 1
          }
        }
        pqBookVar = new PqCodebook(dim, m, fksub, bookFlat)
        pqBlocks = blocks
        pqSourceVar = "loaded"
        true
      } finally in.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger("graft.replica").warn(
          s"graft: replica PQ quick-load from $path failed " +
            s"(${e.getMessage}) — encoding instead")
        false
    }
  }

  private def writeQuickLoadPq(path: String, book: PqCodebook,
                               blocks: Array[PqBlock[String]]): Unit =
    try {
      val target = java.nio.file.Paths.get(path)
      if (target.getParent != null) java.nio.file.Files.createDirectories(target.getParent)
      val tmp = java.nio.file.Files.createTempFile(
        Option(target.getParent).getOrElse(java.nio.file.Paths.get(".")),
        ".replica-pq", ".tmp")
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(tmp), 1 << 16))
      try {
        val n = blocks.map(_.rows).sum
        out.writeInt(LocalReplica.PqQuickLoadMagic)
        out.writeInt(LocalReplica.PqQuickLoadFormat)
        out.writeInt(book.m)
        out.writeInt(book.ksub)
        out.writeInt(dim)
        out.writeInt(n)
        // hash over the fp32 rows in file order (the code row order),
        // streamed — never the O(n·dim) flat buffer
        out.writeLong(rowsHash(blocks.iterator.flatMap(_.ids.iterator)))
        val allCodes = new Array[Byte](n * book.m)
        var co = 0
        blocks.foreach { pb =>
          System.arraycopy(pb.codes, 0, allCodes, co, pb.codes.length)
          co += pb.codes.length
        }
        out.writeLong(LocalReplica.derivedHash(book.centroids, allCodes))
        blocks.foreach { pb =>
          var r = 0
          while (r < pb.rows) {
            val bytes = pb.ids(r).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            out.writeInt(bytes.length)
            out.write(bytes)
            r += 1
          }
        }
        var bi = 0
        val bf = book.centroids
        while (bi < bf.length) { out.writeFloat(bf(bi)); bi += 1 }
        out.write(allCodes)
      } finally out.close()
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger("graft.replica").warn(
          s"graft: failed to write replica PQ cache at $path: ${e.getMessage}")
    }

  /** One query's top-`k` over `slabs`: one heap per slab, scanned in
    * parallel (replicas pack bounded slabs exactly so a single query has
    * parallel grain) and merged by absorb; serial under two slabs.
    * Per-(row, query) scores are slab-independent and the heap union is
    * order-free, so this equals the sequential scan.
    */
  private def scanSlabs[B](slabs: Array[B], k: Int)(
      scan: (B, BoundedTopKG[String]) => Unit): BoundedTopKG[String] =
    if (slabs.length < 2) {
      val h = new BoundedTopKG[String](k)
      if (slabs.length == 1) scan(slabs(0), h)
      h
    } else {
      val parts = new Array[BoundedTopKG[String]](slabs.length)
      java.util.stream.IntStream.range(0, slabs.length).parallel().forEach { i =>
        val h = new BoundedTopKG[String](k)
        scan(slabs(i), h)
        parts(i) = h
      }
      parts.reduce { (a, b) => a.absorb(b); a }
    }

  /** Full-precision rescore of `cands` against the fp32 slabs, in the
    * replica's `exactScore` precision (ADVICE r16): double
    * accumulation under `graft.query.exact` — the distributed rescore
    * tail's arithmetic — and the float32 kernel otherwise, matching
    * [[queryOne]]'s scoring mode. Without this the documented
    * "queryOneQ8/queryOnePq match queryOne hit-for-hit at covering
    * overfetch" claim held only for exact-cut replicas: near-tie
    * scores could order differently between a double rescore and a
    * float32 exact scan.
    */
  private def rescoreExact(q: Array[Float], cands: Seq[String],
                           topK: Int): Seq[VdbHit] = {
    val h = new BoundedTopKG[String](topK)
    cands.foreach { id =>
      val slot = rowOf.get(id)
      if (slot != null) {
        val (b, r) = slot
        val off = r * b.dim
        val s =
          if (exactScore) {
            var acc = 0.0
            var i = 0
            while (i < b.dim) { acc += q(i).toDouble * b.data(off + i); i += 1 }
            acc
          } else graft.operators.Kernels.dotPackedF(q, b.data, off).toDouble
        h.offer(s, id)
      }
    }
    h.sortedHits().map { case (id, s) =>
      VdbHit(id, s, Option(metaOf.get(id)), None)
    }.toSeq
  }

  /** In-process int8-tier top-k (requires [[buildQ8]]): int8 candidate
    * scan at `topK * overfetch`, exact fp32 rescore — the distributed
    * "q8" strategy's serving twin.
    */
  def queryOneQ8(vector: Array[Float], topK: Int = 10,
                 overfetch: Int = 4): Seq[VdbHit] = {
    require(q8Blocks != null, "call buildQ8() first")
    require(vector.length == dim,
      s"query vector dim mismatch: expected $dim, got ${vector.length}")
    val q = graft.functions.NormalizeL2.normalize(vector)
    val scanK = math.max(topK, topK * math.max(1, overfetch))
    // direct byte-FMA kernel, NOT the batch path's dequantize-to-
    // scratch tiling: that trade amortizes the expansion over a query
    // batch, and at batch size ONE it made the int8 scan ~8x slower
    // than the fp32 exact scan (measured at 100k x 1024 before this)
    val merged = scanSlabs(q8Blocks, scanK) { (b, h) =>
      var r = 0
      while (r < b.rows) {
        val s = graft.operators.Kernels.dotQ8F(q, b.codes, r * b.dim)
          .toDouble * b.scales(r)
        h.offer(s, b.ids(r))
        r += 1
      }
    }
    rescoreExact(q, merged.sortedHits().map(_._1).toSeq, topK)
  }

  /** In-process PQ-tier top-k (requires [[buildPq]]): ADC candidate
    * scan at `topK * overfetch`, exact fp32 rescore — the distributed
    * "pq" strategy's serving twin.
    */
  def queryOnePq(vector: Array[Float], topK: Int = 10,
                 overfetch: Int = 8): Seq[VdbHit] = {
    require(pqBlocks != null, "call buildPq() first")
    require(vector.length == dim,
      s"query vector dim mismatch: expected $dim, got ${vector.length}")
    val q = graft.functions.NormalizeL2.normalize(vector)
    val scanK = math.max(topK, topK * math.max(1, overfetch))
    val table = pqBookVar.adcTable(q)
    val ksub = pqBookVar.ksub
    val merged = scanSlabs(pqBlocks, scanK) { (b, h) =>
      PqStore.scoreBlock(Array(h), Array(table), ksub, b, null)
    }
    rescoreExact(q, merged.sortedHits().map(_._1).toSeq, topK)
  }

  /** O(1) point lookup (the `get` shape), no Spark job. */
  def get(id: String, includeVector: Boolean = false): Option[VdbHit] = {
    val slot = rowOf.get(id)
    if (slot == null) None
    else {
      val vec =
        if (!includeVector) None
        else {
          val (b, r) = slot
          Some(java.util.Arrays.copyOfRange(b.data, r * b.dim, (r + 1) * b.dim))
        }
      Some(VdbHit(id, Double.NaN, Option(metaOf.get(id)), vec))
    }
  }

  /** In-process top-k. `nProbe <= 0` (or no index on the replica)
    * scans every bucket — the exact path; `nProbe > 0` prunes to the
    * nearest IVF buckets like the distributed ANN strategy (same
    * probe rule, [[graft.operators.IvfIndex.probeIds]]). Scoring is
    * the shared [[BlockStore.scoreBlock]] kernel, so exact results
    * match the distributed exact strategy hit-for-hit.
    *
    * `whereFn` is the reference's arbitrary-callable filter shape
    * ((id, metaJson) => keep) on the serving path: it pushes into the
    * slab scan as a [[PredicateMember]] and — mirroring the store's
    * O28 default — forces the exact path (`nProbe` is ignored), so a
    * filtered serving answer is never probe-approximate unasked.
    */
  def queryOne(vector: Array[Float], topK: Int = 10,
               betterThan: Option[Double] = None,
               nProbe: Int = 0,
               whereFn: Option[(String, String) => Boolean] = None): Seq[VdbHit] = {
    require(vector.length == dim,
      s"query vector dim mismatch: expected $dim, got ${vector.length}")
    val q = graft.functions.NormalizeL2.normalize(vector)
    val threshold = betterThan.getOrElse(Double.NegativeInfinity)
    val qs = Array(q)
    val member: MemberTest[String] = whereFn match {
      case Some(f) => new PredicateMember[String](id => f(id, metaOf.get(id)))
      case None => null
    }
    val probed: Array[Int] =
      if (member != null || nProbe <= 0 || centroids.isEmpty ||
          nProbe >= bucketBlocks.length)
        Array.range(0, bucketBlocks.length)
      else graft.operators.IvfIndex.probeIds(centroids, q, nProbe)
    val blocks: Array[VecBlock[String]] = probed.flatMap(bucketBlocks(_))
    val merged = scanSlabs(blocks, topK) { (b, h) =>
      if (member == null)
        BlockStore.scoreBlock(Array(h), b, qs, null, threshold, exactScore)
      else
        BlockStore.scoreBlockMember(Array(h), b, qs, null, member,
          deny = false, exact = exactScore, threshold = threshold)
    }
    merged.sortedHits().map { case (id, s) =>
      VdbHit(id, s, Option(metaOf.get(id)), None)
    }.toSeq
  }
}

object LocalReplica {
  private[core] val QuickLoadMagic = 0x47525048 // "GRPH"
  private[core] val QuickLoadFormat = 1
  private[core] val PqQuickLoadMagic = 0x47525051 // "GRPQ"
  private[core] val PqQuickLoadFormat = 1

  // FNV-1a over codebook float bits then code bytes — guards the
  // DERIVED state the vector checksum can't see
  private[core] def derivedHash(book: Array[Float], codes: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < book.length) {
      h = (h ^ java.lang.Float.floatToRawIntBits(book(i))) * 0x100000001B3L
      i += 1
    }
    var j = 0
    while (j < codes.length) {
      h = (h ^ (codes(j) & 0xFF)) * 0x100000001B3L
      j += 1
    }
    h
  }
}
