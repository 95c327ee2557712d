package graft

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.core.SetMember
import graft.operators.HnswStore

/** The six HnswStore searches — {driver batch, Dataset query} ×
  * {unfiltered, member, member + q8} — pinned against each other:
  * every merged call and its packed twin return the same rows (bit for
  * bit, but for the one case noted inline) and the same fallback-scan
  * count, in both store modes at a partial and a covering beam; one
  * warm call of each runs a fixed number of Spark jobs; the
  * empty-batch and empty-allow-set short-circuits return nothing
  * without a job; a mis-dimensioned driver batch is rejected with the
  * entry point's name.
  */
class HnswEngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 16
  private val shards = 3
  // ef at or above every shard's row count turns each shard's beam into
  // the exact (member) scan
  private val covering = 400
  private val partial = 10

  /** 300 rows jittered around 5 random directions. Cosine mode scales
    * each row and adds one all-zero row.
    */
  private def rows(normalized: Boolean): Seq[(Long, Array[Float])] = {
    val rng = new Random(17)
    val centers = Array.fill(5)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val rs = (0 until 300).map { i =>
      val c = centers(i % 5)
      val v = Array.tabulate(dim)(j => c(j) + rng.nextGaussian().toFloat * 0.7f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      val scale = if (normalized) 1.0 / n else 0.5 + 3.0 * rng.nextDouble()
      (i.toLong, v.map(x => (x * scale).toFloat))
    }
    if (normalized) rs else rs :+ (300L -> new Array[Float](dim))
  }

  /** Stored vectors plus fresh ones, a duplicate qid and a zero vector. */
  private def queries(data: Seq[(Long, Array[Float])]): Array[(Long, Array[Float])] = {
    val rng = new Random(23)
    val fresh = (0 until 4).map(i =>
      (100L + i, Array.fill(dim)(rng.nextGaussian().toFloat)))
    (data.filter(_._1 % 41 == 0) ++ fresh ++
      Seq((7L, data(11)._2), (7L, data(12)._2), (9L, new Array[Float](dim)))).toArray
  }

  /** A persisted, materialized store over `rows(normalized)`, released
    * when `f` returns or throws.
    */
  private def withStore[T](normalized: Boolean)(
      f: (HnswStore[Long], Seq[(Long, Array[Float])]) => T): T = {
    val data = rows(normalized)
    val store = HnswStore.fromDataset[Long](data.toDS(), normalize = false,
      assumeNormalized = normalized, numShards = shards).persist()
    try {
      store.materialize()
      f(store, data)
    } finally store.unpersist()
  }

  /** Every output row, score as raw bits, in a canonical order. */
  private def key(res: DataFrame): Seq[(Long, Int, Long, Long)] =
    res.select("qid", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq.sorted

  test("each merged search and its packed twin return the same rows and fallback counts, both store modes, partial and covering beam") {
    for (normalized <- Seq(true, false)) withStore(normalized) { (store, data) =>
      val qs = queries(data)
      val qds = qs.toSeq.toDS().repartition(4)
      val third = SetMember(data.map(_._1).filter(_ % 3 == 0).toArray)
      val tiny = SetMember(Array(5L, 17L, 23L))
      var snapped = 0L
      for (ef <- Seq(partial, covering)) {
        val ctx = s"normalized=$normalized ef=$ef"
        for (exact <- Seq(false, true)) {
          val merged = key(store.searchMerged(qs, 6, ef, exact))
          assert(merged.length == qs.length * 6, ctx)
          assert(merged == key(store.searchPacked(qds, 6, ef, exact)),
            s"searchPacked differs ($ctx exact=$exact)")
        }
        for ((member, k) <- Seq((third, 6), (tiny, 5)); deny <- Seq(false, true)) {
          val c = s"$ctx deny=$deny members=${if (member eq tiny) "3" else "every third"}"
          for (exact <- Seq(false, true)) {
            val merged = key(store.searchMergedMember(qs, k, member, deny, ef, exact))
            val scans = store.lastMemberFallbackScans
            snapped += scans
            val packed = key(store.searchPackedMember(qds, k, member, deny, ef, exact))
            if (!exact && ef == covering && !normalized) {
              // the non-exact fp32 member scan (BlockStore.scoreBlock)
              // scores queries in panels of four plus a scalar tail, and
              // in cosine mode the two apply the norms in a different
              // order: a score's last bits depend on the query's slot in
              // its batch, which the two topologies fill differently
              assert(merged.map(t => (t._1, t._2, t._3)) ==
                packed.map(t => (t._1, t._2, t._3)), s"searchPackedMember ids differ ($c)")
              merged.zip(packed).foreach { case (a, b) =>
                val (x, y) = (java.lang.Double.longBitsToDouble(a._4),
                  java.lang.Double.longBitsToDouble(b._4))
                assert(math.abs(x - y) <= 1e-12, s"searchPackedMember score $x vs $y ($c)")
              }
            } else assert(merged == packed, s"searchPackedMember differs ($c exact=$exact)")
            assert(store.lastMemberFallbackScans == scans,
              s"searchPackedMember fallback scans differ ($c exact=$exact)")
          }
          for (overfetch <- Seq(4, covering)) {
            val merged = key(store.searchMergedMemberQ8(qs, k, member, deny, ef, overfetch))
            val scans = store.lastMemberFallbackScans
            snapped += scans
            assert(merged == key(store.searchPackedMemberQ8(qds, k, member, deny, ef, overfetch)),
              s"searchPackedMemberQ8 differs ($c overfetch=$overfetch)")
            assert(store.lastMemberFallbackScans == scans,
              s"searchPackedMemberQ8 fallback scans differ ($c overfetch=$overfetch)")
          }
        }
      }
      // the 3-member filter at a partial beam snaps to the member scan
      assert(snapped > 0, s"no fallback scan ran (normalized=$normalized)")
    }
  }

  test("one warm call of each search runs a fixed number of Spark jobs, both store modes, partial and covering beam") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
        ()
      }
    }
    var calls = 0
    def jobsOf(call: => DataFrame): Int = {
      call.collect() // warm: derives the dim and the q8 codes this call reads
      calls += 1
      val group = s"hnsw-engine-$calls"
      sc.setJobGroup(group, group)
      try call.collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!jobs.containsKey(group) && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
      jobs.getOrDefault(group, 0)
    }
    sc.addSparkListener(listener)
    try {
      for (normalized <- Seq(true, false)) withStore(normalized) { (store, data) =>
        val qs = queries(data)
        val qds = qs.toSeq.toDS().repartition(4)
        val member = SetMember(data.map(_._1).filter(_ % 3 == 0).toArray)
        for (ef <- Seq(partial, covering)) {
          val ctx = s"normalized=$normalized ef=$ef"
          // driver batch: one treeAggregate job
          assert(jobsOf(store.searchMerged(qs, 5, ef)) == 1, ctx)
          assert(jobsOf(store.searchMerged(qs, 5, ef, exact = true)) == 1, ctx)
          assert(jobsOf(store.searchMergedMember(qs, 5, member, deny = false, ef)) == 1, ctx)
          assert(jobsOf(store.searchMergedMemberQ8(qs, 5, member, deny = false, ef)) == 1, ctx)
          // Dataset query: the qprep count, the shard materialize and
          // the cartesian/reduceByKey collect; a filtered call also
          // counts its persisted output before returning
          assert(jobsOf(store.searchPacked(qds, 5, ef)) == 3, ctx)
          assert(jobsOf(store.searchPacked(qds, 5, ef, exact = true)) == 3, ctx)
          assert(jobsOf(store.searchPackedMember(qds, 5, member, deny = false, ef)) == 4, ctx)
          assert(jobsOf(store.searchPackedMemberQ8(qds, 5, member, deny = false, ef)) == 4, ctx)
        }
      }
    } finally sc.removeSparkListener(listener)
  }

  test("an empty batch or an allow set that matches nothing returns no rows without a job and resets the fallback count") {
    withStore(normalized = true) { (store, data) =>
      val qs = queries(data)
      val qds = qs.toSeq.toDS()
      val tiny = SetMember(Array(5L, 17L, 23L))
      val none = SetMember(Array.empty[Long])
      val sc = spark.sparkContext
      val started = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          started.incrementAndGet(); ()
        }
      }
      // leaves lastMemberFallbackScans above 0
      def snap(): Unit = {
        store.searchMergedMember(qs, 10, tiny, deny = false, partial).collect()
        assert(store.lastMemberFallbackScans > 0)
      }
      def emptyWithoutJob(what: String)(call: => DataFrame): Unit = {
        sc.addSparkListener(listener)
        started.set(0)
        val n = try {
          assert(call.collect().isEmpty, s"$what returned rows")
          Thread.sleep(500)
          started.get()
        } finally sc.removeSparkListener(listener)
        assert(n == 0, s"$what ran $n Spark jobs")
      }
      def noJob(what: String)(call: => DataFrame): Unit = {
        snap()
        emptyWithoutJob(what)(call)
        assert(store.lastMemberFallbackScans == 0, s"$what kept the fallback count")
      }
      noJob("searchMergedMember, empty batch")(
        store.searchMergedMember(Array.empty, 5, tiny, deny = false, partial))
      noJob("searchMergedMemberQ8, empty batch")(
        store.searchMergedMemberQ8(Array.empty, 5, tiny, deny = false, partial))
      noJob("searchMergedMember, empty allow set")(
        store.searchMergedMember(qs, 5, none, deny = false, partial))
      noJob("searchMergedMemberQ8, empty allow set")(
        store.searchMergedMemberQ8(qs, 5, none, deny = false, partial))
      noJob("searchPackedMember, empty allow set")(
        store.searchPackedMember(qds, 5, none, deny = false, partial))
      noJob("searchPackedMemberQ8, empty allow set")(
        store.searchPackedMemberQ8(qds, 5, none, deny = false, partial))
      // an unfiltered call leaves the fallback count as it is
      snap()
      val scans = store.lastMemberFallbackScans
      emptyWithoutJob("searchMerged, empty batch")(
        store.searchMerged(Array.empty, 5, partial))
      emptyWithoutJob("searchMerged exact, empty batch")(
        store.searchMerged(Array.empty, 5, partial, exact = true))
      assert(store.lastMemberFallbackScans == scans)
    }
  }

  test("a mis-dimensioned driver batch is rejected before any job, naming the entry point") {
    withStore(normalized = false) { (store, _) =>
      val bad = Array((1L, new Array[Float](dim - 3)))
      val member = SetMember(Array(1L, 2L))
      def message(call: => DataFrame): String =
        intercept[IllegalArgumentException](call).getMessage
      for ((name, call) <- Seq[(String, () => DataFrame)](
          "searchMerged" -> (() => store.searchMerged(bad, 3)),
          "searchMergedMember" ->
            (() => store.searchMergedMember(bad, 3, member, deny = false)),
          "searchMergedMemberQ8" ->
            (() => store.searchMergedMemberQ8(bad, 3, member, deny = false)))) {
        val m = message(call())
        assert(m.contains(s"HnswStore.$name: query 1 has dim ${dim - 3}, store dim is $dim"), m)
      }
    }
  }
}
