package graft

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BloomMember, MemberTest, SetMember}
import graft.operators.IvfIndex

/** The Dataset-query IVF searches (`searchPacked` and its filtered,
  * q8, pq and bit variants), pinned output row by output row with each
  * score as raw bits: at a partial and a covering nProbe, in both store
  * modes, scan-only and rescored where a tier has overfetch, and the
  * filtered calls under allow, deny and Bloom members. Also pinned: the
  * Spark job count of one warm call of each method, `lastFilteredPasses`
  * after a refill and after a short-circuit, and the persisted-RDD
  * count across repeated covering calls.
  *
  * Rows whose scores are independent of the SIMD kernels' vector width
  * and of a query's slot in its scan batch (sequential-double fp32 with
  * `exact = true`, PQ, bit, and the double rescore of the code tiers)
  * are pinned by a digest of the recorded rows. The fp32 `exact = false`
  * and q8 scan scores come from the float kernels, whose rounding
  * depends on both; those rows are pinned to their driver-batch twins,
  * which score each query in the same slot when the query Dataset is
  * one partition in batch order.
  */
class IvfPackedEngineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dim = 16
  private val nList = 8
  // below the 0.5 * nList exact-scan snap, so the probe is really partial
  private val np = 3

  /** 240 rows jittered widely around 6 random directions (the
    * IvfMergedEngineSpec data). Cosine mode scales each row and adds
    * one all-zero row.
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

  /** The query batch as a Dataset of one partition, in batch order. */
  private def onePart(qs: Array[(Long, Array[Float])]): Dataset[(Long, Array[Float])] =
    spark.createDataset(spark.sparkContext.parallelize(qs.toSeq, 1))

  private def index[K](data: Seq[(K, Array[Float])], normalized: Boolean)(
      implicit enc: org.apache.spark.sql.Encoder[(K, Array[Float])]): IvfIndex =
    IvfIndex.build(spark.createDataset(data).toDF("vec_id", "vec"), "vec_id",
      "vec", nList, normalized = normalized)

  /** Every output row, score as raw bits, in a canonical order. */
  private def key(res: DataFrame): Seq[(Long, Int, String, Long)] =
    res.select("qid", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.get(2).toString,
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq.sorted

  /** SHA-256 of the canonical rows, first 16 hex digits. */
  private def digest(rs: Seq[(Long, Int, String, Long)]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rs.mkString(";").getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** Digests of the rows each labelled call returned when they were
    * recorded; a label names the method, store mode, nProbe, tier
    * setting and member.
    */
  private val pinned: Map[String, String] = Map(
    "searchPacked norm np=3 exact" -> "fb2ab656a3c8fd8c",
    "searchPackedQ8 norm np=3 of=2" -> "fb2ab656a3c8fd8c",
    "searchPackedPq norm np=3 of=0" -> "b1eca1e0cc2d49fb",
    "searchPackedBit norm np=3 of=0" -> "0fd7dddfb93a1bf2",
    "searchPackedPq norm np=3 of=2" -> "fb2ab656a3c8fd8c",
    "searchPackedBit norm np=3 of=2" -> "1faabe78e03fa770",
    "searchPacked norm np=8 exact" -> "fb2ab656a3c8fd8c",
    "searchPackedQ8 norm np=8 of=2" -> "fb2ab656a3c8fd8c",
    "searchPackedPq norm np=8 of=0" -> "b1eca1e0cc2d49fb",
    "searchPackedBit norm np=8 of=0" -> "94b44be59b300ea0",
    "searchPackedPq norm np=8 of=2" -> "fb2ab656a3c8fd8c",
    "searchPackedBit norm np=8 of=2" -> "dafa256a52577cd9",
    "searchPacked cos np=3 exact" -> "8b42de5f83bfff2a",
    "searchPackedQ8 cos np=3 of=2" -> "8b42de5f83bfff2a",
    "searchPackedPq cos np=3 of=0" -> "2621d181dee6f64f",
    "searchPackedBit cos np=3 of=0" -> "8bc7671059176800",
    "searchPackedPq cos np=3 of=2" -> "8b42de5f83bfff2a",
    "searchPackedBit cos np=3 of=2" -> "c024b8e782836b97",
    "searchPacked cos np=8 exact" -> "e2e8695529463654",
    "searchPackedQ8 cos np=8 of=2" -> "e2e8695529463654",
    "searchPackedPq cos np=8 of=0" -> "2e49cf7972f39768",
    "searchPackedBit cos np=8 of=0" -> "11fe8dfc31d22684",
    "searchPackedPq cos np=8 of=2" -> "e2e8695529463654",
    "searchPackedBit cos np=8 of=2" -> "fbf8d33253c3f9c5",
    "searchPackedAllowed norm np=3 allow exact" -> "1f6b3af92244bac8",
    "searchPackedQ8Allowed norm np=3 allow of=2" -> "1f6b3af92244bac8",
    "searchPackedAllowed norm np=3 deny exact" -> "1f6b3af92244bac8",
    "searchPackedQ8Allowed norm np=3 deny of=2" -> "1f6b3af92244bac8",
    "searchPackedAllowed norm np=3 bloom exact" -> "8d5b69b98b68858f",
    "searchPackedQ8Allowed norm np=3 bloom of=2" -> "8d5b69b98b68858f",
    "searchPackedAllowed norm np=8 allow exact" -> "21b788edcbc10c71",
    "searchPackedQ8Allowed norm np=8 allow of=2" -> "21b788edcbc10c71",
    "searchPackedAllowed norm np=8 deny exact" -> "21b788edcbc10c71",
    "searchPackedQ8Allowed norm np=8 deny of=2" -> "21b788edcbc10c71",
    "searchPackedAllowed norm np=8 bloom exact" -> "d9a9b3e30c110739",
    "searchPackedQ8Allowed norm np=8 bloom of=2" -> "d9a9b3e30c110739",
    "searchPackedAllowed cos np=3 allow exact" -> "93549cd5e2160712",
    "searchPackedQ8Allowed cos np=3 allow of=2" -> "93549cd5e2160712",
    "searchPackedAllowed cos np=3 deny exact" -> "93549cd5e2160712",
    "searchPackedQ8Allowed cos np=3 deny of=2" -> "93549cd5e2160712",
    "searchPackedAllowed cos np=3 bloom exact" -> "965fbba66700a0eb",
    "searchPackedQ8Allowed cos np=3 bloom of=2" -> "965fbba66700a0eb",
    "searchPackedAllowed cos np=8 allow exact" -> "4c95b45e49de828c",
    "searchPackedQ8Allowed cos np=8 allow of=2" -> "4c95b45e49de828c",
    "searchPackedAllowed cos np=8 deny exact" -> "4c95b45e49de828c",
    "searchPackedQ8Allowed cos np=8 deny of=2" -> "4c95b45e49de828c",
    "searchPackedAllowed cos np=8 bloom exact" -> "db4969bed7df526f",
    "searchPackedQ8Allowed cos np=8 bloom of=2" -> "db4969bed7df526f")

  /** Compares labelled outputs with their pins; reports all mismatches. */
  private final class Pins {
    private val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    def digestOf(label: String, res: DataFrame, rows: Int): Unit = {
      val got = key(res)
      if (got.length != rows) bad += s"$label: ${got.length} rows, want $rows"
      val d = digest(got)
      if (!pinned.get(label).contains(d)) bad += s""""$label" -> "$d","""
    }
    def twin(label: String, res: DataFrame, want: DataFrame, rows: Int): Unit = {
      val got = key(res)
      if (got.length != rows) bad += s"$label: ${got.length} rows, want $rows"
      if (got != key(want)) bad += s"$label: differs from its driver-batch twin"
    }
    def check(): Unit = assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  private def mode(normalized: Boolean): String = if (normalized) "norm" else "cos"

  test("searchPacked, searchPackedQ8, searchPackedPq and searchPackedBit rows at partial and covering nProbe, both store modes") {
    val pins = new Pins
    for (normalized <- Seq(true, false)) {
      val data = rows(normalized)
      val idx = index(data, normalized)
      val qs = queries(data)
      val qds = spark.createDataset(qs.toSeq)
      val one = onePart(qs)
      val full = qs.length * 5
      for (p <- Seq(np, nList)) {
        val at = s"${mode(normalized)} np=$p"
        pins.digestOf(s"searchPacked $at exact",
          idx.searchPacked[Long](qds, 5, p, normalized, exact = true), full)
        pins.twin(s"searchPacked $at",
          idx.searchPacked[Long](one, 5, p, normalized),
          idx.searchMerged[Long](qs, 5, p, normalized), full)
        pins.twin(s"searchPackedQ8 $at scan",
          idx.searchPackedQ8[Long](one, 5, p, normalized),
          idx.searchMergedQ8[Long](qs, 5, p, normalized), full)
        pins.digestOf(s"searchPackedQ8 $at of=2",
          idx.searchPackedQ8[Long](qds, 5, p, normalized, overfetch = 2), full)
        for (of <- Seq(0, 2)) {
          pins.digestOf(s"searchPackedPq $at of=$of",
            idx.searchPackedPq[Long](qds, 5, p, normalized, overfetch = of,
              m = 4), full)
          pins.digestOf(s"searchPackedBit $at of=$of",
            idx.searchPackedBit[Long](qds, 5, p, normalized, overfetch = of,
              bits = 64), full)
        }
      }
      idx.unpersistAssigned()
    }
    pins.check()
  }

  test("searchPackedAllowed and searchPackedQ8Allowed rows under allow, deny and Bloom members, both store modes") {
    val pins = new Pins
    for (normalized <- Seq(true, false)) {
      val data = rows(normalized)
      // Bloom members key String ids
      val sdata = data.map { case (i, v) => (f"r$i%03d", v) }
      val allow = sdata.map(_._1).filter(_.last == '3')
      val bf = org.apache.spark.util.sketch.BloomFilter.create(allow.length, 0.3)
      allow.foreach(bf.putString)
      val admitted = sdata.map(_._1).filter(bf.mightContainString)
      assert(admitted.length > allow.length, "the filter should admit false positives")
      val members: Seq[(String, MemberTest[String], Boolean)] = Seq(
        ("allow", SetMember(allow.toArray), false),
        ("deny", SetMember(sdata.map(_._1).filterNot(allow.toSet).toArray), true),
        ("bloom", BloomMember(bf), false))
      val idx = index(sdata, normalized)
      val qs = queries(data)
      val qds = spark.createDataset(qs.toSeq)
      val one = onePart(qs)
      val full = qs.length * 5
      for (p <- Seq(np, nList); (name, member, deny) <- members) {
        val at = s"${mode(normalized)} np=$p $name"
        pins.digestOf(s"searchPackedAllowed $at exact",
          idx.searchPackedAllowed[String](qds, 5, member, deny, p, normalized,
            exact = true), full)
        pins.twin(s"searchPackedAllowed $at",
          idx.searchPackedAllowed[String](one, 5, member, deny, p, normalized),
          idx.searchMergedAllowed[String](qs, 5, member, deny, p, normalized),
          full)
        pins.twin(s"searchPackedQ8Allowed $at scan",
          idx.searchPackedQ8Allowed[String](one, 5, member, deny, p, normalized),
          idx.searchMergedQ8Allowed[String](qs, 5, member, deny, p, normalized),
          full)
        pins.digestOf(s"searchPackedQ8Allowed $at of=2",
          idx.searchPackedQ8Allowed[String](qds, 5, member, deny, p, normalized,
            overfetch = 2), full)
      }
      idx.unpersistAssigned()
    }
    pins.check()
  }

  test("one warm call of each Dataset search runs a fixed number of Spark jobs") {
    val data = rows(normalized = true)
    val idx = index(data, normalized = true)
    val qs = queries(data)
    val qds = spark.createDataset(qs.toSeq)
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
      val group = s"ivf-packed-engine-$calls"
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
      // unfiltered partial probes: one job, the rescore fused into it
      assert(jobsOf(idx.searchPacked[Long](qds, 5, np)) == 1)
      assert(jobsOf(idx.searchPackedQ8[Long](qds, 5, np)) == 1)
      assert(jobsOf(idx.searchPackedQ8[Long](qds, 5, np, overfetch = 4)) == 1)
      assert(jobsOf(idx.searchPackedPq[Long](qds, 5, np, m = 4)) == 1)
      assert(jobsOf(idx.searchPackedPq[Long](qds, 5, np, overfetch = 4, m = 4)) == 1)
      assert(jobsOf(idx.searchPackedBit[Long](qds, 5, np, bits = 64)) == 1)
      assert(jobsOf(idx.searchPackedBit[Long](qds, 5, np, overfetch = 4,
        bits = 64)) == 1)
      // covering: fp32 persists and counts the query slabs first; the
      // code tiers stay one cogroup job
      assert(jobsOf(idx.searchPacked[Long](qds, 5, nList)) == 2)
      assert(jobsOf(idx.searchPackedQ8[Long](qds, 5, nList, overfetch = 4)) == 1)
      // filtered covering: slabs counted, output materialized, collected
      assert(jobsOf(idx.searchPackedAllowed[Long](qds, 5, member,
        deny = false, nList)) == 3)
      assert(idx.lastFilteredPasses == 1)
      // filtered partial: query prep counted, one job per probe pass,
      // output materialized, collected
      def filtered(call: => DataFrame): Int = {
        val n = jobsOf(call)
        assert(n == idx.lastFilteredPasses + 3)
        idx.lastFilteredPasses
      }
      val passes = filtered(idx.searchPackedAllowed[Long](qds, 5, member,
        deny = false, np))
      val fewPasses = filtered(idx.searchPackedAllowed[Long](qds, 5, few,
        deny = false, nProbe = 1))
      assert(fewPasses > 2)
      assert(filtered(idx.searchPackedQ8Allowed[Long](qds, 5, member,
        deny = false, np)) == passes)
      assert(filtered(idx.searchPackedQ8Allowed[Long](qds, 5, member,
        deny = false, np, overfetch = 4)) == passes)
      assert(filtered(idx.searchPackedQ8Allowed[Long](qds, 5, few,
        deny = false, nProbe = 1, overfetch = 4)) == fewPasses)
    } finally {
      sc.removeSparkListener(listener)
      idx.unpersistAssigned()
    }
  }

  test("lastFilteredPasses after a refill and after a short-circuit, Dataset searches") {
    val data = rows(normalized = true)
    val idx = index(data, normalized = true)
    val qds = spark.createDataset(queries(data).toSeq)
    val few = SetMember(Array(3L, 130L))
    val none = SetMember(Array.empty[Long])
    def reprobe(): Unit = {
      idx.searchPackedAllowed[Long](qds, 5, few, deny = false, nProbe = 1)
      assert(idx.lastFilteredPasses > 1)
    }
    reprobe()
    idx.searchPackedAllowed[Long](qds, 5, none, deny = false, nProbe = 1)
    assert(idx.lastFilteredPasses == 0, "empty allow set")
    reprobe()
    idx.searchPackedQ8Allowed[Long](qds, 5, none, deny = false, nProbe = 1)
    assert(idx.lastFilteredPasses == 0, "q8, empty allow set")
    idx.searchPackedQ8Allowed[Long](qds, 5, few, deny = false, nProbe = 1,
      overfetch = 4)
    assert(idx.lastFilteredPasses > 1, "q8 refill")
    idx.searchPackedAllowed[Long](qds, 5, few, deny = false, nProbe = nList)
    assert(idx.lastFilteredPasses == 1, "covering")
    idx.unpersistAssigned()
  }

  test("repeated covering searchPacked and searchPackedAllowed calls hold a flat persisted-RDD count") {
    val data = rows(normalized = true)
    val idx = index(data, normalized = true)
    val qds = spark.createDataset(queries(data).toSeq)
    val member = SetMember(data.map(_._1).filter(_ % 3 == 0).toArray)
    val sc = spark.sparkContext
    def persisted(call: => DataFrame): Seq[Int] = (1 to 3).map { _ =>
      call.collect()
      sc.getPersistentRDDs.size
    }
    val plain = persisted(idx.searchPacked[Long](qds, 5, nList))
    assert(plain.distinct.length == 1, s"searchPacked: $plain")
    val allowed = persisted(idx.searchPackedAllowed[Long](qds, 5, member,
      deny = false, nList))
    assert(allowed.distinct.length == 1, s"searchPackedAllowed: $allowed")
    // each method keeps its own latest-call slot: the filtered call's
    // query slab and output add to the unfiltered call's query slab
    assert(allowed.head == plain.head + 1, s"$plain then $allowed")
    idx.unpersistAssigned()
  }
}
