package graft

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BloomMember, SetMember}
import graft.operators.IvfIndex

/** The driver-batch IVF searches (`searchMerged` and its filtered, q8,
  * pq and bit variants), pinned where IvfIndexSpec leaves them loose:
  * scan-only outputs at a genuinely partial nProbe in both store modes,
  * the filtered q8 variant under deny, Bloom and cosine modes, the
  * one-pass rule of unfiltered calls, the refill target of filtered q8
  * calls, and the Spark job count of one warm call of each method.
  */
class IvfMergedEngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 16
  private val nList = 8
  // below the 0.5 * nList exact-scan snap, so the probe is really partial
  private val np = 3

  /** 240 rows jittered widely around 6 random directions: clusters
    * overlap, so a partial probe misses true neighbours and the code
    * tiers rank differently from fp32. Cosine mode scales each row
    * and adds one all-zero row.
    */
  private def rows(normalized: Boolean): Seq[(Long, Array[Float])] = {
    val rng = new Random(5)
    val centers = Array.fill(6)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val rs = (0 until 240).map { i =>
      val c = centers(i % 6)
      val v = Array.tabulate(dim)(j => c(j) + rng.nextGaussian().toFloat * 0.8f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      val scale = if (normalized) 1.0 / n else 0.5 + 3.0 * rng.nextDouble()
      (i.toLong, v.map(x => (x * scale).toFloat))
    }
    if (normalized) rs else rs :+ (240L -> new Array[Float](dim))
  }

  /** Stored vectors plus fresh ones, a duplicate qid and a zero vector. */
  private def queries(data: Seq[(Long, Array[Float])]): Array[(Long, Array[Float])] = {
    val rng = new Random(9)
    val fresh = (0 until 4).map(i =>
      (100L + i, Array.fill(dim)(rng.nextGaussian().toFloat)))
    (data.filter(_._1 % 37 == 0) ++ fresh ++
      Seq((7L, data(11)._2), (7L, data(12)._2), (9L, new Array[Float](dim)))).toArray
  }

  private def index(data: Seq[(Long, Array[Float])], normalized: Boolean): IvfIndex =
    IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList,
      normalized = normalized)

  /** Every output row, score as raw bits, in a canonical order. */
  private def key(res: DataFrame): Seq[(Long, Int, String, Long)] =
    res.select("qid", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.get(2).toString,
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq.sorted

  private def idKey(res: DataFrame): Seq[(Long, Int, String)] =
    key(res).map(t => (t._1, t._2, t._3))

  test("scan-only searchMergedQ8/Pq/Bit at partial nProbe equal their searchPacked twins bit for bit, both store modes") {
    for (normalized <- Seq(true, false)) {
      val data = rows(normalized)
      val idx = index(data, normalized)
      val qs = queries(data)
      val qds = spark.createDataset(qs.toSeq)
      val full = qs.length * 5
      val q8 = key(idx.searchMergedQ8[Long](qs, 5, np, normalized))
      assert(idx.lastSearchStrategy == s"probe(np=$np, tier=q8)")
      assert(q8.length == full)
      assert(q8 == key(idx.searchPackedQ8[Long](qds, 5, np, normalized)),
        s"q8 scan-only differs from its packed twin (normalized=$normalized)")
      for (residual <- Seq(true, false)) {
        val pq = key(idx.searchMergedPq[Long](qs, 5, np, normalized, m = 4,
          byResidual = residual))
        assert(pq.length == full)
        assert(pq == key(idx.searchPackedPq[Long](qds, 5, np, normalized,
            m = 4, byResidual = residual)),
          s"pq scan-only differs from its packed twin (normalized=$normalized, residual=$residual)")
      }
      val bit = key(idx.searchMergedBit[Long](qs, 5, np, normalized, bits = 64))
      assert(bit.length == full)
      assert(bit == key(idx.searchPackedBit[Long](qds, 5, np, normalized,
          bits = 64)),
        s"bit scan-only differs from its packed twin (normalized=$normalized)")
      // the fp32 scan at the same probe, both precisions
      for (exact <- Seq(false, true))
        assert(key(idx.searchMerged[Long](qs, 5, np, normalized, exact)) ==
          key(idx.searchPacked[Long](qds, 5, np, normalized, exact)))
      idx.unpersistAssigned()
    }
  }

  test("unfiltered calls run one probe pass: an underfilled query is not re-probed") {
    val data = rows(normalized = true)
    val idx = index(data, normalized = true)
    val qs = queries(data)
    val cid = idx.assigned.select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val k = 100
    assert(cid.values.groupBy(identity).values.map(_.size).max < k)
    // driver-side brute force over the one probed bucket, double dot
    val expect: Seq[(Long, Int, String)] = qs.toSeq.flatMap { case (qid, q0) =>
      val q = if (q0.forall(_ == 0f)) Array.tabulate(dim)(j => if (j == 0) 1f else 0f)
              else q0
      val probed = IvfIndex.probeIds(idx.centroids, q, 1).toSet
      data.filter(r => probed(cid(r._1))).map { case (id, v) =>
        var s = 0.0
        var j = 0
        while (j < dim) { s += q(j).toDouble * v(j); j += 1 }
        (id, s)
      }.sortBy(t => (-t._2, t._1)).zipWithIndex
        .map { case ((id, _), r) => (qid, r + 1, id.toString) }
    }.sorted
    assert(idKey(idx.searchMerged[Long](qs, k, nProbe = 1, exact = true)) == expect)
    // the code tiers keep the same footprint: every row of the probed
    // bucket, no more
    def footprint(res: DataFrame): Seq[(Long, String)] =
      idKey(res).map(t => (t._1, t._3)).sorted
    val want = expect.map(t => (t._1, t._3)).sorted
    assert(footprint(idx.searchMergedQ8[Long](qs, k, nProbe = 1)) == want)
    assert(footprint(idx.searchMergedPq[Long](qs, k, nProbe = 1, m = 4)) == want)
    assert(footprint(idx.searchMergedBit[Long](qs, k, nProbe = 1, bits = 64)) == want)
    assert(footprint(idx.searchMergedQ8[Long](qs, k, nProbe = 1,
      overfetch = 4)) == want)
    idx.unpersistAssigned()
  }

  test("searchMergedQ8Allowed: deny polarity, cosine mode, refill to k, and the fp32 filtered twin") {
    for (normalized <- Seq(true, false)) {
      val data = rows(normalized)
      val idx = index(data, normalized)
      val qs = queries(data)
      val qds = spark.createDataset(qs.toSeq)
      val allow = data.map(_._1).filter(_ % 3 == 0)
      val member = SetMember(allow.toArray)
      val deny = SetMember(data.map(_._1).filterNot(allow.toSet).toArray)
      for (of <- Seq(0, 4, 1000)) {
        val got = key(idx.searchMergedQ8Allowed[Long](qs, 5, member,
          deny = false, np, normalized, overfetch = of))
        assert(got.length == qs.length * 5)
        // the complement under deny polarity is the same row set
        assert(key(idx.searchMergedQ8Allowed[Long](qs, 5, deny, deny = true,
          np, normalized, overfetch = of)) == got,
          s"deny polarity differs (normalized=$normalized, overfetch=$of)")
        if (of == 0)
          assert(got == key(idx.searchPackedQ8Allowed[Long](qds, 5, member,
            deny = false, np, normalized, overfetch = 0)),
            s"scan-only differs from the packed twin (normalized=$normalized)")
        if (of == 1000)
          // covering overfetch rescored in double equals the exact
          // fp32 filtered scan at the same partial probe
          assert(got == key(idx.searchMergedAllowed[Long](qs, 5, member,
            deny = false, np, normalized, exact = true)),
            s"covering rescore differs from the fp32 twin (normalized=$normalized)")
      }
      // a 12-row allow set at nProbe = 1 re-probes; the q8 loop refills
      // to k, not to k * overfetch, so it stops where the fp32 loop does
      val few = SetMember(data.map(_._1).filter(_ % 20 == 1).toArray)
      val fp = key(idx.searchMergedAllowed[Long](qs, 5, few, deny = false,
        nProbe = 1, normalized, exact = true))
      val fpPasses = idx.lastFilteredPasses
      assert(fpPasses > 1)
      val q8 = key(idx.searchMergedQ8Allowed[Long](qs, 5, few, deny = false,
        nProbe = 1, normalized, overfetch = 1000))
      assert(idx.lastFilteredPasses == fpPasses)
      assert(q8 == fp)
      idx.searchMergedQ8Allowed[Long](qs, 5, few, deny = false,
        nProbe = 1, normalized, overfetch = 4)
      assert(idx.lastFilteredPasses == fpPasses)
      idx.unpersistAssigned()
    }
  }

  test("searchMergedQ8Allowed with a BloomMember scans exactly the rows the filter admits") {
    val data = rows(normalized = true).map { case (i, v) => (f"r$i%03d", v) }
    val idx = IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec",
      nList)
    val qs = queries(rows(normalized = true))
    val allow = data.map(_._1).filter(_.last == '3')
    val bf = org.apache.spark.util.sketch.BloomFilter.create(allow.length, 0.3)
    allow.foreach(bf.putString)
    val admitted = data.map(_._1).filter(bf.mightContainString)
    assert(admitted.length > allow.length, "the filter should admit false positives")
    for (of <- Seq(0, 1000)) {
      val viaBloom = key(idx.searchMergedQ8Allowed[String](qs, 5,
        BloomMember(bf), deny = false, np, overfetch = of))
      assert(viaBloom.length == qs.length * 5)
      assert(viaBloom == key(idx.searchMergedQ8Allowed[String](qs, 5,
        SetMember(admitted.toArray), deny = false, np, overfetch = of)),
        s"bloom scan differs from the admitted set (overfetch=$of)")
    }
    idx.unpersistAssigned()
  }

  test("one warm call of each driver-batch search runs a fixed number of Spark jobs") {
    val data = rows(normalized = true)
    val idx = index(data, normalized = true)
    val qs = queries(data)
    val sc = spark.sparkContext
    val member = SetMember(data.map(_._1).filter(_ % 3 == 0).toArray)
    val few = SetMember(data.map(_._1).filter(_ % 20 == 1).toArray)
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
      call.collect() // warm: builds the packs this call reads
      calls += 1
      val group = s"ivf-merged-engine-$calls"
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
      // unfiltered: one scan job, plus one for a rescore
      assert(jobsOf(idx.searchMerged[Long](qs, 5, np)) == 1)
      assert(jobsOf(idx.searchMerged[Long](qs, 5, nList)) == 1) // flat full scan
      assert(jobsOf(idx.searchMergedQ8[Long](qs, 5, np)) == 1)
      assert(jobsOf(idx.searchMergedQ8[Long](qs, 5, np, overfetch = 4)) == 2)
      assert(jobsOf(idx.searchMergedPq[Long](qs, 5, np, m = 4)) == 1)
      assert(jobsOf(idx.searchMergedPq[Long](qs, 5, np, overfetch = 4, m = 4)) == 2)
      assert(jobsOf(idx.searchMergedBit[Long](qs, 5, np, bits = 64)) == 1)
      assert(jobsOf(idx.searchMergedBit[Long](qs, 5, np, overfetch = 4,
        bits = 64)) == 2)
      // a PQ batch split by the table budget (m = 4 and ksub = 240 are
      // 3,840 table bytes a query: 273 queries a chunk at 1 MB), one
      // scan job per chunk
      val big = Array.tabulate(400)(i => (i.toLong, data(i % data.length)._2))
      spark.conf.set("graft.pq.table.budget.mb", "1")
      try {
        assert(jobsOf(idx.searchMergedPq[Long](big, 5, np, m = 4)) == 2)
        assert(jobsOf(idx.searchMergedPq[Long](big, 5, np, overfetch = 4,
          m = 4)) == 3)
      } finally spark.conf.unset("graft.pq.table.budget.mb")
      // filtered: one job per probe pass, plus one for a rescore
      def filtered(call: => DataFrame, rescore: Int): Int = {
        val n = jobsOf(call)
        assert(n == idx.lastFilteredPasses + rescore)
        idx.lastFilteredPasses
      }
      assert(filtered(idx.searchMergedAllowed[Long](qs, 5, member,
        deny = false, nList), 0) == 1)
      val passes = filtered(idx.searchMergedAllowed[Long](qs, 5, member,
        deny = false, np), 0)
      val fewPasses = filtered(idx.searchMergedAllowed[Long](qs, 5, few,
        deny = false, nProbe = 1), 0)
      assert(fewPasses > 2)
      assert(filtered(idx.searchMergedQ8Allowed[Long](qs, 5, member,
        deny = false, np), 0) == passes)
      assert(filtered(idx.searchMergedQ8Allowed[Long](qs, 5, member,
        deny = false, np, overfetch = 4), 1) == passes)
      assert(filtered(idx.searchMergedQ8Allowed[Long](qs, 5, few,
        deny = false, nProbe = 1, overfetch = 4), 1) == fewPasses)
    } finally {
      sc.removeSparkListener(listener)
      idx.unpersistAssigned()
    }
  }

  test("a filtered call that short-circuits resets lastFilteredPasses to 0") {
    val data = rows(normalized = true)
    val idx = index(data, normalized = true)
    val qs = queries(data)
    val few = SetMember(Array(3L, 130L))
    val none = SetMember(Array.empty[Long])
    def reprobe(): Unit = {
      idx.searchMergedAllowed[Long](qs, 5, few, deny = false, nProbe = 1)
      assert(idx.lastFilteredPasses > 1)
    }
    reprobe()
    idx.searchMergedAllowed[Long](qs, 5, none, deny = false, nProbe = 1)
    assert(idx.lastFilteredPasses == 0, "empty allow set")
    reprobe()
    idx.searchMergedAllowed[Long](Array.empty, 5, few, deny = false, nProbe = 1)
    assert(idx.lastFilteredPasses == 0, "empty batch")
    reprobe()
    idx.searchMergedQ8Allowed[Long](qs, 5, none, deny = false, nProbe = 1)
    assert(idx.lastFilteredPasses == 0, "q8, empty allow set")
    reprobe()
    idx.searchMergedQ8Allowed[Long](Array.empty, 5, few, deny = false,
      nProbe = 1, overfetch = 4)
    assert(idx.lastFilteredPasses == 0, "q8, empty batch")
    idx.unpersistAssigned()
  }

  test("covering searchPackedAllowed is immune to a query source whose row order changes between evaluations") {
    val data = rows(normalized = true)
    val idx = index(data, normalized = true)
    val qs = queries(data)
    // the covering branch scans the flat pack; with two or more block
    // partitions the query side is read once per block partition
    assert(idx.flatPackSizes().count(_ > 0) >= 2)
    val member = SetMember(data.map(_._1).filter(_ % 3 == 0).toArray)
    // each evaluation of a partition returns its rows in a new order,
    // as an order-unstable shuffled upstream would
    val unstable = spark.sparkContext.parallelize(qs.toSeq, 2).mapPartitions { it =>
      val part = it.toVector
      new Random(IvfMergedEngineSpec.evaluations.incrementAndGet())
        .shuffle(part).iterator
    }
    for (exact <- Seq(false, true)) {
      val got = idx.searchPackedAllowed[Long](spark.createDataset(unstable), 5,
        member, deny = false, nProbe = nList, exact = exact)
      val same = key(got) == key(idx.searchMergedAllowed[Long](qs, 5, member,
        deny = false, nProbe = nList, exact = exact))
      assert(same, s"rows attributed to the wrong queries (exact=$exact)")
    }
    idx.unpersistAssigned()
  }
}

object IvfMergedEngineSpec {
  /** Evaluations of the order-unstable query source's partitions. */
  val evaluations = new java.util.concurrent.atomic.AtomicInteger(0)
}
