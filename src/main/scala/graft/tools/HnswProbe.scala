package graft.tools

/** HNSW recall/latency probe on CLUSTERED 100k x 1024 — the realistic
  * embedding shape (real text/image embeddings cluster; uniform random
  * rows are the adversarial case, where distance concentration caps
  * every index's recall). No Spark needed:
  * the graph index is driver-local by design.
  */
object HnswProbe {
  def main(args: Array[String]): Unit = {
    val n = sys.env.get("SPARK_GRAFT_HNSW_N").map(_.toInt).getOrElse(100000)
    val dim = 1024
    val nClusters = 1000
    val m = sys.env.get("SPARK_GRAFT_HNSW_M").map(_.toInt).getOrElse(16)
    val efc = sys.env.get("SPARK_GRAFT_HNSW_EFC").map(_.toInt).getOrElse(100)

    def normalize(v: Array[Float]): Array[Float] = {
      val s = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / s).toFloat)
    }
    // cluster centers + per-point jitter (sigma chosen so clusters
    // overlap but neighbors are overwhelmingly intra-cluster)
    val crng = new java.util.Random(7)
    val centers = Array.fill(nClusters)(
      normalize(Array.fill(dim)(crng.nextFloat() - 0.5f)))
    val data = new Array[Float](n * dim)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val rng = new java.util.Random(i * 2654435761L + 17)
      val c = centers(i % nClusters)
      val v = normalize(Array.tabulate(dim)(j =>
        c(j) + (rng.nextFloat() - 0.5f) * 0.08f))
      System.arraycopy(v, 0, data, i * dim, dim)
    }
    println(s"HNSWPROBE data ready n=$n dim=$dim clusters=$nClusters")

    var t0 = System.nanoTime()
    val idx = graft.core.Hnsw.build(data, n, dim, m, efc)
    println(f"HNSWPROBE build M=$m efC=$efc: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val qrng = new java.util.Random(42)
    val queries = Array.fill(200) {
      val c = centers(qrng.nextInt(nClusters))
      normalize(Array.tabulate(dim)(j => c(j) + (qrng.nextFloat() - 0.5f) * 0.08f))
    }
    // parallel brute-force ground truth
    val truth = new Array[Set[Int]](queries.length)
    t0 = System.nanoTime()
    java.util.stream.IntStream.range(0, queries.length).parallel().forEach { qi =>
      val q = queries(qi)
      val top = new graft.core.BoundedTopKG[Int](10)
      var i = 0
      while (i < n) {
        top.offer(graft.operators.Kernels.dotPackedF(q, data, i * dim).toDouble, i)
        i += 1
      }
      truth(qi) = top.sortedHits().map(_._1).toSet
    }
    println(f"HNSWPROBE brute force: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    Seq(16, 32, 64, 128).foreach { ef =>
      var hits = 0
      t0 = System.nanoTime()
      queries.zipWithIndex.foreach { case (q, qi) =>
        hits += idx.search(q, 10, ef).map(_._1).count(truth(qi))
      }
      val ms = (System.nanoTime() - t0) / 1e6 / queries.length
      println(f"HNSWPROBE ef=$ef%-4d recall@10=${hits / (10.0 * queries.length)}%.3f  $ms%.3f ms/query")
    }
  }
}
