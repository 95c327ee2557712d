package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Hnsw, VdbRecord, VdbStore}
import graft.operators.{HnswIO, HnswStore}

/** Graph persistence — the reference's save-the-index-beside-the-store
  * contract (pico_vdb.py:260-283, 347, 362; locked by its
  * test_task15_faiss_persist_load_safely.py): a load restores graphs
  * with ZERO rebuilds ([[Hnsw.buildsInJvm]]-pinned), results are
  * bit-identical across the cycle, and any stale/corrupt/foreign file
  * degrades to a validated rebuild, never a wrong answer.
  */
class HnswPersistSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def randData(n: Int, dim: Int, seed: Int,
                       unit: Boolean): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = Array.fill(dim)(rng.nextFloat() - 0.5f)
      if (unit) {
        val nr = math.sqrt(v.map(x => x.toDouble * x).sum)
        (i.toLong, v.map(x => (x / nr).toFloat))
      } else (i.toLong, v)
    }
  }

  private def collectHits(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Double, Int)] =
    df.select(col("qid"), col("id"), col("score"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(r => (r._1, r._4)).toSeq

  test("save/load round-trip: zero rebuilds, bit-identical graph and exact results") {
    val data = randData(600, 12, seed = 3, unit = true)
    val store = HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, assumeNormalized = true,
      m = 8, efConstruction = 60, numShards = 5).persist()
    store.materialize()
    val queries = randData(12, 12, seed = 9, unit = true).toArray
    val wantGraph = collectHits(store.searchMerged(queries, k = 7, ef = 48))
    val wantExact = collectHits(store.searchMerged(queries, k = 7, exact = true))

    val dir = tmpDir("hnswsave")
    store.save(dir)
    val buildsBefore = Hnsw.buildsInJvm
    val loaded = HnswStore.load[Long](spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (rows, shards) = loaded.materialize()
    assert(Hnsw.buildsInJvm == buildsBefore,
      "loading a persisted store must not rebuild any graph")
    assert(rows == 600L && shards == 5)
    assert(loaded.dim == 12 && loaded.normalized && loaded.m == 8 &&
      loaded.efConstruction == 60)
    assert(collectHits(loaded.searchMerged(queries, k = 7, ef = 48)) == wantGraph,
      "graph search must be bit-identical across a save/load cycle")
    assert(collectHits(loaded.searchMerged(queries, k = 7, exact = true)) == wantExact)
    assert(Hnsw.buildsInJvm == buildsBefore)
    // save records the shape it wrote
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = graft.core.StoreIO.resolveCurrent(fs, root).get.toString
    assert(HnswIO.savedShape(spark, snap) == (600L, 5))
    loaded.unpersist(); store.unpersist()
  }

  test("cosine-mode (raw slab + norms) round-trips; unit rows re-derive identically") {
    val data = randData(400, 10, seed = 11, unit = false)
    val store = HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, m = 8, numShards = 3).persist()
    store.materialize()
    val queries = randData(8, 10, seed = 21, unit = false).toArray
    val wantGraph = collectHits(store.searchMerged(queries, k = 5, ef = 40))
    val wantExact = collectHits(store.searchMerged(queries, k = 5, exact = true))
    val dir = tmpDir("hnswcos")
    store.save(dir)
    val before = Hnsw.buildsInJvm
    val loaded = HnswStore.load[Long](spark, dir).persist()
    loaded.materialize()
    assert(Hnsw.buildsInJvm == before)
    assert(!loaded.normalized)
    assert(collectHits(loaded.searchMerged(queries, k = 5, ef = 40)) == wantGraph)
    assert(collectHits(loaded.searchMerged(queries, k = 5, exact = true)) == wantExact)
    loaded.unpersist(); store.unpersist()
  }

  test("string keys round-trip; loading with the wrong key type is rejected") {
    val data = randData(150, 6, seed = 5, unit = true)
      .map { case (i, v) => (s"doc-$i", v) }
    val store = HnswStore.fromDataset[String](
      data.toDS(), normalize = false, assumeNormalized = true,
      numShards = 2).persist()
    store.materialize()
    val dir = tmpDir("hnswstr")
    store.save(dir)
    val loaded = HnswStore.load[String](spark, dir).persist()
    val (rows, _) = loaded.materialize()
    assert(rows == 150L)
    val q = Array((1L, data.head._2))
    val a = store.searchMerged(q, k = 3, exact = true)
      .select("id").as[String].collect().sorted.toSeq
    val b = loaded.searchMerged(q, k = 3, exact = true)
      .select("id").as[String].collect().sorted.toSeq
    assert(a == b && a.contains("doc-0"))
    intercept[IllegalArgumentException] {
      HnswStore.load[Long](spark, dir)
    }
    loaded.unpersist(); store.unpersist()
  }

  test("a corrupted shard file fails the load loudly, not with a wrong graph") {
    val data = randData(200, 8, seed = 13, unit = true)
    val store = HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, assumeNormalized = true,
      numShards = 2).persist()
    store.materialize()
    val dir = tmpDir("hnswbad")
    val snap = store.save(dir)
    // flip bytes in the header of one shard file
    val shardFile = java.nio.file.Files.list(java.nio.file.Paths.get(
        snap.stripPrefix("file:")))
      .filter(_.toString.endsWith(".hnsw")).findFirst().get()
    java.nio.file.Files.write(shardFile, Array[Byte](0, 1, 2, 3, 4, 5, 6, 7))
    val loaded = HnswStore.load[Long](spark, dir)
    val e = intercept[Exception] { loaded.materialize() }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("HNSW") || msg.contains("magic") || msg.contains("shard"),
      s"expected a diagnosable corruption error, got: $msg")
    store.unpersist()
  }

  test("a tombstoned store saves and loads with zero builds, live rows and identical answers") {
    var rows = randData(300, 12, seed = 17, unit = true).toMap
    val store = HnswStore.fromDataset[Long](rows.toSeq.toDS(), normalize = false,
      assumeNormalized = true, m = 8, efConstruction = 60, numShards = 3).persist()
    store.materialize()
    // update a few rows and delete a few more: their old nodes are dead
    val changed = randData(4, 12, seed = 19, unit = true)
      .map { case (i, v) => (i * 7, v) }
    val deleted = Seq(3L, 50L, 101L, 250L)
    rows = rows ++ changed -- deleted
    val touched = store.rebuildTouched((changed.map(_._1) ++ deleted).toSet,
      spark.sparkContext.parallelize(changed, 1)).persist()
    assert(touched.materialize()._1 == rows.size.toLong)
    store.unpersist()
    val queries = (changed.map(_._2) ++ randData(6, 12, seed = 23, unit = true).map(_._2))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toArray
    val wantGraph = collectHits(touched.searchMerged(queries, k = 6, ef = 24))
    val wantExact = collectHits(touched.searchMerged(queries, k = 6, exact = true))
    val dir = tmpDir("hnswtomb")
    val snap = touched.save(dir)
    assert(HnswIO.savedShape(spark, snap)._1 == rows.size.toLong,
      "the saved shape counts live rows")
    val before = Hnsw.buildsInJvm
    val loaded = HnswStore.load[Long](spark, dir).persist()
    assert(loaded.materialize()._1 == rows.size.toLong)
    assert(collectHits(loaded.searchMerged(queries, k = 6, ef = 24)) == wantGraph)
    assert(collectHits(loaded.searchMerged(queries, k = 6, exact = true)) == wantExact)
    assert(Hnsw.buildsInJvm == before, "a tombstoned store must load without a build")
    loaded.unpersist(); touched.unpersist()

    // the same through VdbStore: updates and deletes, save, load
    val s = hnswVdbStore()
    s.enableHnsw(m = 8, efConstruction = 60)
    val q = Array.fill(8)(0.3f)
    s.queryOne(q, topK = 5, efSearch = 48)
    val v = new Array[Float](8); v(1) = 1f
    s.upsert(Seq(VdbRecord("h007", v, """{"g": 3}""")))
    s.delete(Seq("h011", "h012", "h013"))
    val want = s.queryOne(q, topK = 5, efSearch = 48).map(h => (h.id, h.metrics))
    val wantV = s.queryOne(v, topK = 3, efSearch = 48).map(h => (h.id, h.metrics))
    assert(s.hnswLastRebuildMode == "incremental")
    val vdir = tmpDir("vdbhnswtomb") + "/store"
    s.save(vdir)
    val vBefore = Hnsw.buildsInJvm
    val l = VdbStore.load(spark, vdir)
    assert(l.hnswRestoreMode == "loaded", "a tombstoned sidecar must hydrate on load")
    assert(l.queryOne(q, topK = 5, efSearch = 48).map(h => (h.id, h.metrics)) == want)
    assert(l.queryOne(v, topK = 3, efSearch = 48).map(h => (h.id, h.metrics)) == wantV)
    assert(l.lastQueryStrategy.contains("hnsw"))
    assert(Hnsw.buildsInJvm == vBefore, "loading a tombstoned sidecar must not build")
  }

  test("a Format-1 shard file (no dead mask) still loads") {
    val data = randData(200, 8, seed = 29, unit = true)
    val store = HnswStore.fromDataset[Long](data.toDS(), normalize = false,
      assumeNormalized = true, m = 8, efConstruction = 60, numShards = 2).persist()
    store.materialize()
    val queries = randData(5, 8, seed = 31, unit = true).toArray
    val wantGraph = collectHits(store.searchMerged(queries, k = 5, ef = 24))
    val wantExact = collectHits(store.searchMerged(queries, k = 5, exact = true))
    // the Format-1 layout: header, ids, norms flag, rows, topology
    val dir = new java.io.File(tmpDir("hnswv1"))
    val shards = store.shards.collect()
    shards.zipWithIndex.foreach { case (sh, i) =>
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, f"shard-$i%05d-000.hnsw"))))
      try {
        val b = sh.block
        out.writeInt(0x47484E53)
        out.writeInt(1)
        out.writeInt(b.dim)
        out.writeInt(b.rows)
        out.writeByte(0)
        b.ids.foreach(out.writeLong)
        out.writeBoolean(false)
        (0 until b.rows * b.dim).foreach(j => out.writeFloat(b.data(j)))
        sh.graph.writeGraph(out)
      } finally out.close()
    }
    val meta = s"""{"format": 1, "key": 0, "dim": 8, "rows": 200, """ +
      s""""shards": ${shards.length}, "normalized": true, "m": 8, "efc": 60}"""
    java.nio.file.Files.write(new java.io.File(dir, "_hnsw_meta.json").toPath,
      meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val before = Hnsw.buildsInJvm
    val loaded = HnswIO.loadFrom[Long](spark, dir.toString).persist()
    assert(loaded.materialize() == ((200L, shards.length)))
    assert(collectHits(loaded.searchMerged(queries, k = 5, ef = 24)) == wantGraph)
    assert(collectHits(loaded.searchMerged(queries, k = 5, exact = true)) == wantExact)
    assert(Hnsw.buildsInJvm == before)
    loaded.unpersist(); store.unpersist()
  }

  // ---- VdbStore integration: the sidecar rides the snapshot ----

  private def hnswVdbStore(n: Int = 120, dim: Int = 8): VdbStore = {
    val rng = new scala.util.Random(42)
    val s = VdbStore.empty(spark, dim)
    val recs = (0 until n).map { i =>
      val v = Array.fill(dim)(rng.nextFloat() - 0.5f)
      val nr = math.sqrt(v.map(x => x.toDouble * x).sum)
      VdbRecord(f"h$i%03d", v.map(x => (x / nr).toFloat), s"""{"g": ${i % 4}}""")
    }
    s.upsert(recs)
    s
  }

  test("VdbStore save/load restores the graph index without a rebuild (pico_vdb.py:260-283)") {
    val s = hnswVdbStore()
    s.enableHnsw(m = 8, efConstruction = 60)
    val q = Array.fill(8)(0.3f)
    val want = s.queryOne(q, topK = 5, efSearch = 48).map(h => (h.id, h.metrics))
    assert(s.lastQueryStrategy.contains("hnsw"))
    val dir = tmpDir("vdbhnsw") + "/store"
    s.save(dir)

    val before = Hnsw.buildsInJvm
    val loaded = VdbStore.load(spark, dir)
    assert(loaded.hnswRestoreMode == "loaded",
      "a clean sidecar must hydrate the graph cache on load")
    assert(Hnsw.buildsInJvm == before,
      "hydrating from the sidecar must not rebuild any graph")
    val got = loaded.queryOne(q, topK = 5, efSearch = 48).map(h => (h.id, h.metrics))
    assert(loaded.lastQueryStrategy.contains("hnsw"))
    assert(got == want, s"post-load hits $got != pre-save $want")
    assert(Hnsw.buildsInJvm == before,
      "the first post-load query must serve from the loaded graphs")
  }

  test("save rehydrates the SAVING store's graph cache from its own sidecar (no post-save rebuild)") {
    val s = hnswVdbStore()
    s.enableHnsw(m = 8, efConstruction = 60)
    val q = Array.fill(8)(0.3f)
    val want = s.queryOne(q, topK = 5, efSearch = 48).map(_.id)
    val dir = tmpDir("vdbhnswresave") + "/store"
    val before = Hnsw.buildsInJvm
    s.save(dir) // bumps the version (lineage re-point) but reloads the sidecar
    assert(s.hnswRestoreMode == "loaded",
      "save must rehydrate the cache it just serialized")
    val got = s.queryOne(q, topK = 5, efSearch = 48).map(_.id)
    assert(s.lastQueryStrategy.contains("hnsw"))
    assert(got == want)
    assert(Hnsw.buildsInJvm == before,
      "the save/rehydrate cycle must not rebuild any graph")
  }

  test("enabled-but-never-built stores save params only; load re-enables with lazy rebuild") {
    val s = hnswVdbStore(n = 60)
    s.enableHnsw(m = 8, efConstruction = 40) // no query -> no cache -> no sidecar
    val dir = tmpDir("vdbhnswlazy") + "/store"
    s.save(dir)
    val loaded = VdbStore.load(spark, dir)
    assert(loaded.hnswRestoreMode == "rebuild")
    val q = Array.fill(8)(0.25f)
    loaded.queryOne(q, topK = 3)
    assert(loaded.lastQueryStrategy.contains("hnsw"),
      "load must re-enable the strategy even without a sidecar")
  }

  test("a corrupted sidecar triggers a logged rebuild, and queries stay correct") {
    val s = hnswVdbStore()
    s.enableHnsw(m = 8, efConstruction = 60)
    val q = Array.fill(8)(0.3f)
    val want = s.queryOne(q, topK = 5, efSearch = 48).map(_.id)
    val dir = tmpDir("vdbhnswcorrupt") + "/store"
    s.save(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = graft.core.StoreIO.resolveCurrent(fs, root).get.toString
    val sidecar = java.nio.file.Paths.get(
      snap.stripPrefix("file:"), graft.core.StoreIO.HnswDir)
    val shardFile = java.nio.file.Files.list(sidecar)
      .filter(_.toString.endsWith(".hnsw")).findFirst().get()
    java.nio.file.Files.write(shardFile, Array[Byte](9, 9, 9, 9))

    val before = Hnsw.buildsInJvm
    val loaded = VdbStore.load(spark, dir)
    assert(loaded.hnswRestoreMode == "rebuild",
      "a corrupt sidecar must fall back to rebuild, not error out")
    val got = loaded.queryOne(q, topK = 5, efSearch = 48).map(_.id)
    assert(loaded.lastQueryStrategy.contains("hnsw"))
    assert(got == want)
    assert(Hnsw.buildsInJvm > before, "the fallback is a real rebuild")
  }

  // ---- LocalReplica quick-load (pico_vdb.py:230-237 analog) ----

  test("replica graph quick-load: second cold start loads in O(n*dim), zero rebuilds") {
    val s = hnswVdbStore(n = 200)
    val cache = tmpDir("replicagraph") + "/replica-hnsw.bin"
    val r1 = s.localReplica()
    r1.buildHnsw(m = 8, efConstruction = 60, cachePath = Some(cache))
    assert(r1.hnswSource == "built")
    assert(java.nio.file.Files.isRegularFile(java.nio.file.Paths.get(cache)),
      "a fresh build must write the cache for the next cold start")
    val q = Array.fill(8)(0.4f)
    val want = r1.queryOneHnsw(q, topK = 6, ef = 48).map(h => (h.id, h.metrics))

    val before = Hnsw.buildsInJvm
    val r2 = s.localReplica()
    r2.buildHnsw(m = 8, efConstruction = 60, cachePath = Some(cache))
    assert(r2.hnswSource == "loaded", "the second replica must quick-load")
    assert(Hnsw.buildsInJvm == before, "quick-load must not rebuild")
    val got = r2.queryOneHnsw(q, topK = 6, ef = 48).map(h => (h.id, h.metrics))
    assert(got == want, "quick-loaded graph must serve identical results")
    // meta still carried through the replica surface
    assert(got.forall { case (id, _) => r2.get(id).isDefined })
  }

  test("replica quick-load rejects stale caches: mutated rows, wrong params, torn file") {
    val s = hnswVdbStore(n = 100)
    val cache = tmpDir("replicastale") + "/g.bin"
    s.localReplica().buildHnsw(m = 8, efConstruction = 40, cachePath = Some(cache))
    // wrong params -> rebuild (and the rebuild rewrites the cache)
    val rp = s.localReplica()
    rp.buildHnsw(m = 16, efConstruction = 80, cachePath = Some(cache))
    assert(rp.hnswSource == "built")
    // mutation -> different vectors under an id -> checksum mismatch
    val nv = new Array[Float](8); nv(0) = 1f
    s.upsert(Seq(VdbRecord("h000", nv, null)))
    val rm = s.localReplica()
    rm.buildHnsw(m = 16, efConstruction = 80, cachePath = Some(cache))
    assert(rm.hnswSource == "built",
      "a cache over different vectors must not quick-load")
    // torn file -> logged build
    java.nio.file.Files.write(java.nio.file.Paths.get(cache), Array[Byte](1, 2, 3))
    val rt = s.localReplica()
    rt.buildHnsw(m = 16, efConstruction = 80, cachePath = Some(cache))
    assert(rt.hnswSource == "built")
    // and the rewrite self-heals: next start quick-loads again
    val rh = s.localReplica()
    rh.buildHnsw(m = 16, efConstruction = 80, cachePath = Some(cache))
    assert(rh.hnswSource == "loaded")
  }

  test("replica q8/pq serving tiers: carried codebook means zero k-means, second cold start quick-loads the codes") {
    import graft.core.PqStore
    val s = hnswVdbStore(n = 120)
    // train the store's PQ book once (the _pq_codebook sidecar state)
    s.enablePq()
    s.queryOne(Array.fill(8)(0.3f), topK = 3)
    val cache = tmpDir("replicapq") + "/codes.bin"

    // replicas cut under query.exact score their exact scans in double
    // — the same arithmetic as the tiers' rescore tail, so parity is
    // bit-level (the VdbStoreSpec q8/pq convention)
    spark.conf.set("graft.query.exact", "true")
    val replica = s.localReplica()
    val probe = replica.get("h007", includeVector = true).get.vector.get
    val exact = replica.queryOne(probe, topK = 5).map(h => (h.id, h.metrics))

    // int8 tier: no trained state, no cache — quantize is assembly-cheap
    replica.buildQ8()
    val cover = replica.size / 5 + 1
    assert(replica.queryOneQ8(probe, topK = 5, overfetch = cover)
      .map(h => (h.id, h.metrics)) == exact,
      "covering-overfetch q8 rescore must equal the exact replica scan")

    // pq tier, first cold start: the carried book means ZERO k-means
    val trainsBefore = PqStore.trainsInJvm.get()
    replica.buildPq(cachePath = Some(cache))
    assert(PqStore.trainsInJvm.get() == trainsBefore,
      "a replica cut from a pq-enabled store must not retrain")
    assert(replica.pqSource == "encoded")
    assert(replica.queryOnePq(probe, topK = 5, overfetch = cover)
      .map(h => (h.id, h.metrics)) == exact,
      "covering-overfetch pq rescore must equal the exact replica scan")

    // second cold start: codes quick-load from the cache — zero
    // re-encode (source "loaded"), zero k-means, identical results
    val replica2 = s.localReplica()
    val trains2 = PqStore.trainsInJvm.get()
    replica2.buildPq(cachePath = Some(cache))
    assert(replica2.pqSource == "loaded",
      "a matching codes cache must quick-load, not re-encode")
    assert(PqStore.trainsInJvm.get() == trains2)
    assert(replica2.queryOnePq(probe, topK = 5, overfetch = cover)
      .map(h => (h.id, h.metrics)) == exact)

    // torn/corrupt cache degrades to an encode that rewrites it
    val raf = new java.io.RandomAccessFile(cache, "rw")
    raf.seek(raf.length() / 2); raf.writeInt(0xDEAD); raf.close()
    val replica3 = s.localReplica()
    replica3.buildPq(cachePath = Some(cache))
    assert(replica3.pqSource == "encoded",
      "a corrupt cache must fall back to encoding")
    val replica4 = s.localReplica()
    replica4.buildPq(cachePath = Some(cache))
    assert(replica4.pqSource == "loaded",
      "the fallback encode must rewrite the cache for the next start")

    // a replica cut WITHOUT the store pq strategy trains locally (the
    // logged fallback — the only path where trainsInJvm moves)
    s.disablePq()
    val bare = s.localReplica()
    val trains3 = PqStore.trainsInJvm.get()
    bare.buildPq()
    assert(PqStore.trainsInJvm.get() == trains3 + 1)
    assert(bare.queryOnePq(probe, topK = 5, overfetch = cover)
      .map(h => (h.id, h.metrics)) == exact)
    spark.conf.unset("graft.query.exact")
  }

  test("shard-local invalidation: small mutations on a loaded store rebuild exactly the touched slabs") {
    val s = hnswVdbStore(n = 120)
    s.enableHnsw(m = 8, efConstruction = 40)
    val q = new Array[Float](8); q(2) = 1f
    s.queryOne(q, topK = 3) // builds + caches, then persists below
    val dir = tmpDir("vdbhnswincr") + "/store"
    s.save(dir)
    val loaded = VdbStore.load(spark, dir)
    assert(loaded.hnswRestoreMode == "loaded")

    // 1) a brand-new row touches NO existing slab: the loaded graphs
    // carry verbatim and exactly ONE new slab builds for the row
    val before1 = Hnsw.buildsInJvm
    loaded.upsert(Seq(VdbRecord("fresh", q, """{"g": 9}""")))
    assert(loaded.queryOne(q, topK = 1).head.id == "fresh")
    assert(loaded.lastQueryStrategy.contains("hnsw"))
    assert(loaded.hnswLastRebuildMode == "incremental")
    assert(Hnsw.buildsInJvm == before1 + 1,
      "an insert must build one new slab graph, not rebuild the store")

    // 2) updating one existing row rebuilds ONLY its slab (survivors +
    // the new vector re-pack into a single slab-sized graph)
    val v2 = new Array[Float](8); v2(5) = 1f
    val before2 = Hnsw.buildsInJvm
    loaded.upsert(Seq(VdbRecord("h005", v2, """{"g": 1}""")))
    assert(loaded.queryOne(v2, topK = 1).head.id == "h005")
    assert(loaded.hnswLastRebuildMode == "incremental")
    assert(Hnsw.buildsInJvm == before2 + 1,
      "an update must rebuild exactly the touched slab")

    // 3) deleting the lone-slab row drops its slab with ZERO builds
    val before3 = Hnsw.buildsInJvm
    loaded.delete(Seq("fresh"))
    val afterDel = loaded.queryOne(q, topK = 5)
    assert(loaded.hnswLastRebuildMode == "incremental")
    assert(!afterDel.exists(_.id == "fresh"))
    assert(Hnsw.buildsInJvm == before3,
      "deleting a slab's only row must not build anything")

    // 4) deleting from a shared slab re-packs its survivors: one build,
    // and untouched rows still answer through their carried graphs
    val before4 = Hnsw.buildsInJvm
    loaded.delete(Seq("h010"))
    val probe = loaded.get(Seq("h020"), includeVector = true).head.vector.get
    val got = loaded.queryOne(probe, topK = 1)
    assert(loaded.lastQueryStrategy.contains("hnsw"))
    assert(got.head.id == "h020")
    assert(Hnsw.buildsInJvm == before4,
      "a shared-slab delete tombstones the row and builds nothing")

    // 5) the cap gates the path: cap 0 falls back to the full rebuild
    spark.conf.set("graft.hnsw.incr.cap", "0")
    try {
      loaded.upsert(Seq(VdbRecord("fresh2", q, """{"g": 9}""")))
      loaded.queryOne(q, topK = 1)
      assert(loaded.hnswLastRebuildMode == "full")
    } finally spark.conf.unset("graft.hnsw.incr.cap")
  }

  test("post-load mutations invalidate the loaded graphs (version keying survives restore)") {
    val s = hnswVdbStore(n = 80)
    s.enableHnsw(m = 8, efConstruction = 40)
    val q = new Array[Float](8); q(2) = 1f
    s.queryOne(q, topK = 3) // builds + caches
    val dir = tmpDir("vdbhnswmut") + "/store"
    s.save(dir)
    val loaded = VdbStore.load(spark, dir)
    assert(loaded.hnswRestoreMode == "loaded")
    loaded.upsert(Seq(VdbRecord("fresh", q, """{"g": 9}""")))
    val hit = loaded.queryOne(q, topK = 1)
    assert(loaded.lastQueryStrategy.contains("hnsw"))
    assert(hit.head.id == "fresh",
      "a mutation after load must rebuild the graphs, not serve stale ones")
  }
}
