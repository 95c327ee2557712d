package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import graft.core.BlockStore
import graft.operators.CosineTopK

/** Scale smoke: N x 256-d vectors through ingest + batch query,
  * exercising multi-block partitions and the treeAggregate merge at a
  * size the unit suite can't afford. Default 1M (~1 GB packed);
  * SPARK_GRAFT_SMOKE_N=10000000 runs the 100x-sf0.1 evidence pass
  * (~10 GB packed — converts SCALING.md's shuffle-volume claims into a
  * measured number; VERDICT r2 next-round #9). Run by hand; prints one
  * line per phase.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    // heap comes from the forked JVM (SPARK_DRIVER_MEM, build.sbt);
    // the 10M pass needs ~25 GB live (raw + packed both pinned).
    val spark = SparkSession.builder().master("local[24]")
      .config("spark.sql.shuffle.partitions", "24")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val dim = 256
    val n = sys.env.get("SPARK_GRAFT_SMOKE_N").map(_.toInt).getOrElse(1000000)
    val parts = 24 * math.max(1, n / 1000000) // ~42k rows x 1 KB / partition
    val raw = sc.range(0, n, 1, parts).map { i =>
      val rng = new java.util.Random(i * 7919L)
      (i, Array.fill(dim)(rng.nextFloat()))
    }.persist(StorageLevel.MEMORY_ONLY)
    raw.count()

    def timed(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val out = f
      println(f"SMOKE $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($out)")
    }

    var store: BlockStore[Long] = null
    timed("ingest 1M x 256") {
      store = BlockStore.fromRDD(raw, normalize = true).persist()
      store.materialize()
    }
    timed("blocks") { store.blocks.count() }
    val qrng = new java.util.Random(1)
    val queries = Array.tabulate(1000)((i: Int) => (i.toLong, Array.fill(dim)(qrng.nextFloat())))
    timed("batch 1000q top10") {
      CosineTopK.gemmBlocks(store, queries, 10, betterThan = Some(0.1)).count()
    }
    timed("batch again") {
      CosineTopK.gemmBlocks(store, queries, 10, betterThan = Some(0.1)).count()
    }
    // SPARK_GRAFT_SMOKE_Q8ONLY: stop after the q8 phase — the exact
    // ingest/batch anchors plus the quantized twin, without re-paying
    // the ~20-min distq/ANN phases whose numbers SCALING.md already
    // records from the canonical 10M runs.
    val q8Only = sys.env.contains("SPARK_GRAFT_SMOKE_Q8ONLY")

    import spark.implicits._
    // Distributed query side at a batch size no driver array should
    // hold: fresh random query vectors (own seed, unrelated to the
    // stored rows) as a Dataset, never collected. The default scales
    // inversely with the store size so the 10M evidence pass doesn't
    // silently append hours (work is nDistQ/1000 x the 1000-query
    // batch); the phase converts gemmQueries' P_q x P_s heap-shuffle
    // claim into a measured number.
    if (!q8Only) {
      // clamp in Long BEFORE the Int cast: a tiny n makes the quotient
      // exceed Int.MaxValue (wrap -> 1.4B-query hang / silent 1000)
      val nDistQ = sys.env.get("SPARK_GRAFT_SMOKE_DISTQ").map(_.toInt)
        .getOrElse(math.max(1000L,
          math.min(100000L, 100000L * 1000000L / math.max(1, n))).toInt)
      val qDs = spark.createDataset(
        sc.range(0, nDistQ, 1, 24).map { i =>
          val rng = new java.util.Random(i * 104729L)
          (i, Array.fill(dim)(rng.nextFloat()))
        })
      timed(s"distq ${nDistQ}q top10") {
        CosineTopK.gemmQueries(store, qDs, 10, betterThan = Some(0.1)).count()
      }
    }

    // ---- Q8 phase (round 10): the int8-quantized twin at the same
    // scale — quantize cost (one map), scan-only batch, rescored batch
    // (overfetch 4), recall vs the float-exact path on a 100-query
    // subsample. Runs while `store` is still cached so the recall
    // anchor is cheap; adds ~n/4 bytes of persisted codes.
    {
      import org.apache.spark.sql.functions.col
      var q8: graft.core.Q8Store[Long] = null
      timed("q8 quantize") {
        q8 = graft.core.Q8Store.fromBlockStore(store).persist()
        q8.materialize()
      }
      timed("q8 scan 1000q top10") {
        q8.topKMerged(queries, 10).length.toLong
      }
      // steady-state twins (round 12): the single-shot rows above mix
      // first-execution effects (JIT of the q8 kernels, cache layout)
      // with data work, and this host's contention bursts can own any
      // one sample — the "again" rows are the comparable numbers
      timed("q8 scan again") {
        q8.topKMerged(queries, 10).length.toLong
      }
      timed("q8 rescore 1000q of4") {
        q8.rescoredTopK(queries, 10, 4).count()
      }
      timed("q8 rescore again") {
        q8.rescoredTopK(queries, 10, 4).count()
      }
      val sample = queries.take(100)
      val exactS = CosineTopK.gemmBlocks(store, sample, 10)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val scanS = sample.map(_._1).zip(q8.topKMerged(sample, 10))
        .map { case (qid, h) => qid -> h.map(_._1).toSet }.toMap
      val resS = q8.rescoredTopK(sample, 10, 4)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      def rc(m: Map[Long, Set[Long]]): Double = sample.map { case (qid, _) =>
        m.getOrElse(qid, Set.empty[Long]).count(exactS(qid)).toDouble / 10
      }.sum / sample.length
      println(f"SMOKE q8 recall@10 scan/rescore   ${rc(scanS)}%.3f / ${rc(resS)}%.3f")
      q8.unpersist()
    }

    // binary-sketch flat tier (round 15): completes the measured
    // bandwidth ladder fp32 -> int8 -> bit at this N (PQ's flat rows
    // live in PqProbe; here the ladder anchors are the store tiers).
    // 256 sign bits = 32 B/row vs int8's 256 B and fp32's 1 KB.
    {
      import org.apache.spark.sql.functions.col
      var bit: graft.core.BitStore[Long] = null
      timed("bit sketch 256b") {
        bit = graft.core.BitStore.fromBlockStore(store, bits = 256).persist()
        bit.materialize()
      }
      timed("bit scan 1000q top10") {
        bit.topKMerged(queries, 10).length.toLong
      }
      timed("bit scan again") {
        bit.topKMerged(queries, 10).length.toLong
      }
      timed("bit rescore 1000q of16") {
        bit.rescoredTopK(queries, 10, 16).count()
      }
      timed("bit rescore again") {
        bit.rescoredTopK(queries, 10, 16).count()
      }
      val sample = queries.take(100)
      val exactS = CosineTopK.gemmBlocks(store, sample, 10)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val resS = bit.rescoredTopK(sample, 10, 16)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val rcB = sample.map { case (qid, _) =>
        resS.getOrElse(qid, Set.empty[Long]).count(exactS(qid)).toDouble / 10
      }.sum / sample.length
      println(f"SMOKE bit recall@10 rescore of16  $rcB%.3f")
      bit.unpersist()
    }
    if (q8Only) { spark.stop(); return }

    // ---- ANN phase (VERDICT r8 next-round #4): the Dataset-side IVF
    // search at the same scale as the exact phases — build at √N lists
    // on this store, searchPacked a 100k-query Dataset, record wall +
    // recall@10 vs the exact path, so the "probe join prunes to
    // nProbe/nList of the store" claim carries a measured row
    // (SCALING.md "ANN"). Query vectors are structure-free (IVF's worst
    // case), so the recorded recall is the floor, not the typical.
    import org.apache.spark.sql.functions.col
    import graft.operators.IvfIndex
    val nAnnQ = sys.env.get("SPARK_GRAFT_SMOKE_ANNQ").map(_.toInt).getOrElse(100000)
    val nProbe = sys.env.get("SPARK_GRAFT_SMOKE_NPROBE").map(_.toInt).getOrElse(32)
    def annQVec(i: Long): Array[Float] = {
      val rng = new java.util.Random(i * 15485863L)
      Array.fill(dim)(rng.nextFloat())
    }
    // exact ground truth for the recall subsample FIRST, while the
    // packed store is still cached (cosine ranking — same order the
    // IVF normalized=false path scores)
    val sampleQ = Array.tabulate(100)((i: Int) => (i.toLong, annQVec(i)))
    val exactTop = CosineTopK.gemmBlocks(store, sampleQ, 10)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    store.unpersist() // packed slabs freed; the ANN phase caches `assigned`
    val annDf = raw.toDF("vec_id", "vec")
    val nList = IvfIndex.defaultNList(n)
    var idx: IvfIndex = null
    timed(s"ann build nList=$nList") {
      idx = IvfIndex.build(annDf, "vec_id", "vec", nList = nList,
        normalized = false)
      idx.assigned.count()
    }
    raw.unpersist(blocking = false) // assigned cache now holds the rows
    // packed-kernel search: the store re-buckets ONCE into per-centroid
    // SIMD slabs (timed as its own phase — an index-build cost), then
    // query batches stream them with the gemm kernels
    timed(s"ann pack buckets") {
      // first searchPacked call builds + caches the packed buckets; a
      // 1-query probe isolates the build cost into this phase
      idx.searchPacked[Long](spark.createDataset(Seq((0L, annQVec(0)))),
        k = 1, nProbe = 1, normalized = false).count()
    }
    // a query TABLE filtered down to its first SPARK_GRAFT_SMOKE_DSQ
    // rows (default = the ANN batch; the 10M evidence pass drops it to
    // keep the phase bounded and compares per-query rates)
    val nDsQ = sys.env.get("SPARK_GRAFT_SMOKE_DSQ").map(_.toInt).getOrElse(nAnnQ)
    val annQDs = spark.createDataset(sc.range(0, math.max(nDsQ.toLong, 100L), 1, 24)
      .map(i => (i, annQVec(i))))
    timed(s"ann searchPacked ${nDsQ}q np=$nProbe query table") {
      idx.searchPacked[Long](annQDs.filter(col("_1") < nDsQ), k = 10,
        nProbe = nProbe, normalized = false).count()
    }
    val approx = idx.searchPacked[Long](annQDs.filter(col("_1") < 100),
        k = 10, nProbe = nProbe, normalized = false)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recall = sampleQ.map { case (qid, _) =>
      approx.getOrElse(qid, Set.empty[Long]).count(exactTop(qid)).toDouble / 10
    }.sum / sampleQ.length
    println(f"SMOKE ann recall@10 np=$nProbe     $recall%.3f  (nList=$nList, probed ${nProbe.toDouble / nList * 100}%.1f%% of store)")
    val annQTyped = spark.createDataset(sc.range(0, nAnnQ, 1, 24)
      .map(i => (i, annQVec(i))))
    timed(s"ann searchPacked ${nAnnQ}q np=$nProbe") {
      idx.searchPacked[Long](annQTyped, k = 10, nProbe = nProbe,
        normalized = false).count()
    }
    val approxP = idx.searchPacked[Long](
        spark.createDataset(sampleQ.toSeq), k = 10, nProbe = nProbe,
        normalized = false)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recallP = sampleQ.map { case (qid, _) =>
      approxP.getOrElse(qid, Set.empty[Long]).count(exactTop(qid)).toDouble / 10
    }.sum / sampleQ.length
    println(f"SMOKE ann packed recall@10        $recallP%.3f  (same probes)")
    // composed bulk twin (round 12): int8 bucket slabs + fused fp32
    // rescore in the same cogroup — the probed fraction streams 4x
    // fewer candidate-generation bytes at identical probes
    timed(s"ann q8 pack buckets") {
      idx.searchPackedQ8[Long](spark.createDataset(Seq((0L, annQVec(0)))),
        k = 1, nProbe = 1, normalized = false).count()
    }
    timed(s"ann searchPackedQ8 ${nAnnQ}q np=$nProbe scan") {
      idx.searchPackedQ8[Long](annQTyped, k = 10, nProbe = nProbe,
        normalized = false).count()
    }
    timed(s"ann searchPackedQ8 ${nAnnQ}q np=$nProbe of4") {
      idx.searchPackedQ8[Long](annQTyped, k = 10, nProbe = nProbe,
        normalized = false, overfetch = 4).count()
    }
    val approxQ8 = idx.searchPackedQ8[Long](
        spark.createDataset(sampleQ.toSeq), k = 10, nProbe = nProbe,
        normalized = false, overfetch = 4)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recallQ8 = sampleQ.map { case (qid, _) =>
      approxQ8.getOrElse(qid, Set.empty[Long]).count(exactTop(qid)).toDouble / 10
    }.sum / sampleQ.length
    println(f"SMOKE ann q8 rescored recall@10   $recallQ8%.3f  (same probes, of4)")
    // IVF-PQ bulk twin (round 15): PQ code slabs + the same fused fp32
    // rescore cogroup — the m-bytes-per-row candidate tier below int8
    // (m=32 at 256-d: 32 B/row vs 1 KB fp32, 32x). Codebook train is
    // N-independent; encode is one narrow map over the packs.
    timed(s"ann pq train+encode m=32") {
      idx.searchPackedPq[Long](spark.createDataset(Seq((0L, annQVec(0)))),
        k = 1, nProbe = 1, normalized = false, m = 32).count()
    }
    timed(s"ann searchPackedPq ${nAnnQ}q np=$nProbe scan") {
      idx.searchPackedPq[Long](annQTyped, k = 10, nProbe = nProbe,
        normalized = false, m = 32).count()
    }
    timed(s"ann searchPackedPq ${nAnnQ}q np=$nProbe of8") {
      idx.searchPackedPq[Long](annQTyped, k = 10, nProbe = nProbe,
        normalized = false, overfetch = 8, m = 32).count()
    }
    val approxPq = idx.searchPackedPq[Long](
        spark.createDataset(sampleQ.toSeq), k = 10, nProbe = nProbe,
        normalized = false, overfetch = 8, m = 32)
      .select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recallPq = sampleQ.map { case (qid, _) =>
      approxPq.getOrElse(qid, Set.empty[Long]).count(exactTop(qid)).toDouble / 10
    }.sum / sampleQ.length
    println(f"SMOKE ann pq rescored recall@10   $recallPq%.3f  (same probes, of8)")
    spark.stop()
  }
}
