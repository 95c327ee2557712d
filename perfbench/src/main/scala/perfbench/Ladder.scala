package perfbench

import org.apache.spark.sql.functions.col
import graft.core.{BitStore, BlockStore, PqStore, Q8Store, VdbStore}
import graft.kernels.VectorKernels
import graft.operators.{CosineTopK, HnswStore, IvfIndex}

/** The layer ladder of a traced run: each inner layer's public entry
  * points timed on the workload's own data, beside a ceiling measured in
  * the same JVM (FMA peak, STREAM-style copy). Builds run on the first
  * `sub` rows so the ladder stays seconds long; scans run on all rows.
  */
final class Ladder(run: Run, w: Workload) {
  private val spark = run.spark
  import spark.implicits._
  private val t = w.ladderTable
  private val dim = t.dim
  private val sub = math.min(t.size, if (run.opts.tiny) 800 else 2000)
  private val queries: Array[(Long, Array[Float])] =
    Data.queries(run.opts.seed + 9, if (run.opts.tiny) 8 else 50, dim)
      .zipWithIndex.map { case (q, i) => (i.toLong, q) }
  private def put(name: String, v: Double, unit: String): Unit = run.layer(name) = (v, unit)

  /** Seconds of one call, traced as a span of `layer`. */
  private def time[T](layer: String, name: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = run.tracer.span(layer, name)(f)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median ms of three calls (after one warm-up call). */
  private def perCallMs(layer: String, name: String)(f: => Any): Double = {
    f
    Stats.median((0 until 3).map(_ => time(layer, name)(f)._2 * 1000))
  }

  def runAll(): Unit = {
    ceilings()
    kernels()
    packAndScan()
    ivf()
    hnsw()
    codecs()
    replicaAndMaintenance()
  }

  private def ceilings(): Unit = {
    val iters = if (run.opts.tiny) 2000000L else 20000000L
    put("fma_peak_gflops_1t", Peak.fmaGflops(1, iters), "GFLOP/s")
    put("fma_peak_gflops_4t", Peak.fmaGflops(4, iters), "GFLOP/s")
    put("stream_copy_gb_per_s", Peak.copyGBs(4, if (run.opts.tiny) 4 else 32, 4), "GB/s")
  }

  /** fp32 and q8 dot kernels at the workload's dimension, 1 and 4 threads. */
  private def kernels(): Unit = {
    val rows = sub
    val m = new Array[Float](rows * dim)
    (0 until rows).foreach(r => System.arraycopy(t.vecs(r), 0, m, r * dim, dim))
    val codes = m.map(x => math.max(-127, math.min(127, math.round(x * 127))).toByte)
    val q = queries.take(4).map(_._2)
    val out = new Array[Float](4)
    def fp32Pass(): Unit = {
      var r = 0
      while (r < rows) { VectorKernels.dot4Packed(q(0), q(1), q(2), q(3), m, r * dim, out); r += 1 }
    }
    def q8Pass(): Unit = {
      var r = 0
      while (r < rows) { out(0) += VectorKernels.dotQ8(q(0), codes, r * dim); r += 1 }
    }
    def rate(threads: Int, macsPerPass: Double)(pass: () => Unit): Double = {
      val reps = math.max(1, (2e8 / macsPerPass).toInt)
      val body: Runnable = () => (0 until reps).foreach(_ => pass())
      Peak.onThreads(threads, body)
      Stats.median((0 until 3).map(_ => threads * reps * macsPerPass /
        run.tracer.span("VectorKernels", s"dot_${threads}t")(Peak.onThreads(threads, body)) / 1e9))
    }
    put("kernel_fp32_gmacs_1t", rate(1, 4.0 * rows * dim)(() => fp32Pass()), "GMAC/s")
    put("kernel_fp32_gmacs_4t", rate(4, 4.0 * rows * dim)(() => fp32Pass()), "GMAC/s")
    put("kernel_q8_gmacs_1t", rate(1, 1.0 * rows * dim)(() => q8Pass()), "GMAC/s")
    put("kernel_q8_gmacs_4t", rate(4, 1.0 * rows * dim)(() => q8Pass()), "GMAC/s")
  }

  private lazy val rowsRdd = spark.sparkContext
    .parallelize(t.vecs.indices.map(i => (i.toLong, t.vecs(i))), 4).cache()
  private lazy val subFrame = t.vecs.indices.take(sub)
    .map(i => (t.ids(i), Model.normalize(t.vecs(i)))).toDF("_id_", "_vector_").cache()
  private lazy val subBlocks = BlockStore.fromDataset(
    subFrame.as[(String, Array[Float])], normalize = false, assumeNormalized = true).persist()

  /** BlockStore packing and the CosineTopK packed scan over every row. */
  private def packAndScan(): Unit = {
    rowsRdd.count()
    val (bs, packS) = time("BlockStore", "fromRDD+materialize") {
      val b = BlockStore.fromRDD(rowsRdd, normalize = true).persist()
      b.materialize(); b
    }
    put("pack_rows_per_s", t.size / packS, "1/s")
    val ms = perCallMs("CosineTopK", "gemmBlocks")(
      CosineTopK.gemmBlocks(bs, queries, 10).collect())
    put("scan_ms_per_call", ms, "ms")
    put("scan_rows_per_s", t.size / (ms / 1000), "1/s")
    val gbs = t.size.toDouble * dim * 4 / (ms / 1000) / 1e9
    put("scan_gb_per_s", gbs, "GB/s")
    put("scan_share_of_stream", gbs / run.layer("stream_copy_gb_per_s")._1, "ratio")
    bs.unpersist()
    rowsRdd.unpersist()
  }

  private def ivf(): Unit = {
    subFrame.count()
    val nList = IvfIndex.defaultNList(sub)
    val (cents, fitS) = time("IvfIndex", "fitCentroids")(
      IvfIndex.fitCentroids(subFrame, "_vector_", nList))
    put("ivf_fit_s", fitS, "s")
    val (idx, assignS) = time("IvfIndex", "assign") {
      val i = IvfIndex.assign(subFrame, cents, "_id_", "_vector_")
      i.assigned.count(); i
    }
    put("ivf_assign_s", assignS, "s")
    put("ivf_search_ms_per_call",
      perCallMs("IvfIndex", "searchMerged")(idx.searchMerged[String](queries, 10).collect()), "ms")
    idx.unpersistAssigned()
  }

  private def hnsw(): Unit = {
    val (hs, buildS) = time("HnswStore", "fromDataset+materialize") {
      val h = HnswStore.fromDataset(subFrame.as[(String, Array[Float])], normalize = false,
        assumeNormalized = true)
      h.materialize(); h
    }
    put("hnsw_dist_build_s", buildS, "s")
    put("hnsw_dist_inserts_per_s", sub / buildS, "1/s")
    put("hnsw_dist_search_ms_per_call",
      perCallMs("HnswStore", "searchMerged")(hs.searchMerged(queries, 10).collect()), "ms")
    hs.unpersist()
  }

  /** q8 quantize, bit sketch, PQ train and encode, and each tier's scan. */
  private def codecs(): Unit = {
    subBlocks.materialize()
    val (q8, q8S) = time("Q8Store", "fromBlockStore") {
      val s = Q8Store.fromBlockStore(subBlocks).persist(); s.materialize(); s
    }
    put("q8_quantize_s", q8S, "s")
    put("q8_scan_ms_per_call", perCallMs("Q8Store", "topKMerged")(q8.topKMerged(queries, 40)), "ms")
    val (bit, bitS) = time("BitStore", "fromBlockStore") {
      val s = BitStore.fromBlockStore(subBlocks).persist(); s.materialize(); s
    }
    put("bit_sketch_s", bitS, "s")
    put("bit_scan_ms_per_call", perCallMs("BitStore", "topKMerged")(bit.topKMerged(queries, 40)), "ms")
    val m = PqStore.autoM(dim)
    val (book, trainS) = time("PqStore", "train")(PqStore.train(subBlocks, m, 256, 20000, 42L, 8))
    put("pq_train_s", trainS, "s")
    val (pq, encS) = time("PqStore", "fromCodebook") {
      val s = PqStore.fromCodebook(subBlocks, book).persist(); s.materialize(); s
    }
    put("pq_encode_s", encS, "s")
    put("pq_scan_ms_per_call", perCallMs("PqStore", "topKMerged")(pq.topKMerged(queries, 80)), "ms")
    q8.unpersist(false); bit.unpersist(false); pq.unpersist(false)
  }

  /** A probe store over the sub rows: its replica, an index refresh after
    * a small write for each maintained index, and a save + load.
    */
  private def replicaAndMaintenance(): Unit = {
    val probe = VdbStore.empty(spark, dim)
    run.must("VdbStore", "upsertDF")(probe.upsertDF(
      subFrame.select(col("_id_"), col("_vector_").as("vector"), col("_id_").as("meta"))))
    val (rep, repS) = time("VdbStore", "localReplica")(probe.localReplica())
    put("replica_build_s", repS, "s")
    val (_, hS) = time("LocalReplica", "buildHnsw")(rep.buildHnsw())
    put("replica_hnsw_build_s", hS, "s")
    put("replica_hnsw_inserts_per_s", sub / hS, "1/s")
    def p50us(name: String)(f: Array[Float] => Any): Double = {
      queries.foreach(q => f(q._2))
      Stats.median(queries.map { q =>
        val t0 = System.nanoTime(); run.tracer.span("LocalReplica", name)(f(q._2))
        (System.nanoTime() - t0) / 1e3
      })
    }
    put("replica_exact_p50_us", p50us("queryOne")(rep.queryOne(_, 10)), "us")
    put("replica_hnsw_p50_us", p50us("queryOneHnsw")(rep.queryOneHnsw(_, 10, 32)), "us")
    put("replica_get_p50_us", p50us("get")(_ => rep.get(t.ids(0))), "us")

    // index maintenance: build, write 1% of the rows, query again
    val touched = t.vecs.indices.take(math.max(10, sub / 100))
    def maintain(enable: VdbStore => Unit): Unit = {
      val s = VdbStore.fromDF(spark, dim, probe.df)
      enable(s)
      val q = queries.take(4).map(_._2).toSeq
      run.must("VdbStore", "query")(s.query(q, 10))
      val recs = touched.map(i => graft.core.VdbRecord(t.ids(i), t.vecs((i + 1) % sub), t.ids(i)))
      run.must("VdbStore", "upsert")(s.upsert(recs))
      val before = s.lastTimings
      run.must("VdbStore", "query")(s.query(q, 10))
      run.tracer.last.foreach { sp =>
        val after = s.lastTimings
        for (k <- Seq("hnsw_refresh", "ann_refresh") if after.get(k) != before.get(k)) {
          sp.attrs(k + "_s") = after(k)
          sp.attrs(k + "_mode") =
            if (k == "hnsw_refresh") s.hnswLastRebuildMode else s.annInfo.lastRebuildMode
        }
      }
    }
    maintain(_.enableHnsw())
    maintain(_.enableAnn())

    val dir = new java.io.File(Main.workDir, s"ladder-${run.opts.seed}")
    Main.deleteTree(dir)
    val (_, saveS) = time("VdbStore", "save")(probe.save(dir.getAbsolutePath))
    val (_, loadS) = time("StoreIO", "load")(VdbStore.load(spark, dir.getAbsolutePath).count())
    put("storeio_save_s", saveS, "s")
    put("storeio_load_s", loadS, "s")
    if (!run.layer.contains("storeio_bytes_per_user_byte"))
      put("storeio_bytes_per_user_byte",
        Main.treeBytes(dir) / t.ids.take(sub).map(dim * 4.0 + 2 * _.length).sum, "ratio")
    if (!run.layer.contains("persist_s")) put("persist_s", saveS + loadS, "s")
    Main.deleteTree(dir)
  }
}
