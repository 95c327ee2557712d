package graft

import org.apache.spark.sql.functions.col
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{VdbRecord, VdbStore}
import graft.operators.IvfIndex

/** ANN-vs-exact parity on easy (well-separated) data — the Spark analog
  * of the reference's FAISS/NumPy parity test
  * (tests/test_task14_faiss_vs_numpy_results.py).
  */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // every index a test builds, released when the test ends, pass or fail:
  // a built index pins its `assigned` rows (and any packs) in the cache
  // of the test JVM that every later suite shares
  private val built = new java.util.concurrent.ConcurrentLinkedQueue[IvfIndex]()

  private def owned(idx: IvfIndex): IvfIndex = { built.add(idx); idx }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally while (!built.isEmpty) built.poll().unpersistAssigned()

  /** 4 well-separated unit clusters in 8-dim: base direction e_{2c} with
    * small deterministic jitter, normalized.
    */
  private def clusteredData(perCluster: Int = 40): Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(123)
    for {
      c <- 0 until 4
      i <- 0 until perCluster
    } yield {
      val v = new Array[Float](8)
      v(2 * c) = 1f
      (0 until 8).foreach(j => v(j) = v(j) + (rng.nextFloat() - 0.5f) * 0.1f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      ((c * perCluster + i).toLong, v.map(x => (x / n).toFloat))
    }
  }

  test("IVF top-k equals exact top-k on separated clusters (test_task14 analog)") {
    val data = clusteredData()
    val df = data.toDF("vec_id", "vec")
    val idx = owned(IvfIndex.build(df, "vec_id", "vec", nList = 4))
    assert(idx.nList == 4)

    val queries = data.filter(_._1 % 17 == 0).toArray
    val ann = idx.searchMerged[Long](queries, k = 5, nProbe = 1, exact = true)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(3 - 2)))

    // exact oracle via local loop
    val all = data.toMap
    val exact = queries.flatMap { case (qid, q) =>
      data.map { case (id, v) =>
        val s = q.zip(v).map { case (a, b) => a.toDouble * b.toDouble }.sum
        (qid, id, s)
      }.sortBy { case (_, id, s) => (-s, id) }.take(5).zipWithIndex
        .map { case ((_, id, _), r) => (qid, r + 1, id) }
    }
    val annSet = idx.searchMerged[Long](queries, k = 5, nProbe = 1, exact = true)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(annSet == exact.toSet)
  }

  test("search rejects a mis-dimensioned query up front (ADVICE r8)") {
    // truncated dot products would silently score garbage
    val idx = owned(IvfIndex.build(clusteredData().toDF("vec_id", "vec"),
      "vec_id", "vec", nList = 4))
    val bad = Array((7L, Array.fill(5)(0.1f))) // index dim is 8
    val e = intercept[IllegalArgumentException] {
      idx.searchMerged[Long](bad, k = 3, nProbe = 1)
    }
    assert(e.getMessage.contains("dim 5") && e.getMessage.contains("index dim is 8"))
  }

  test("repeated full-scan searchPacked calls keep ONE cached query slab (VERDICT r14 wrong #1)") {
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val sc = spark.sparkContext
    def liveQPreps: Int =
      sc.getPersistentRDDs.values.count(_.name == "graft.ivf.fullscan.qprep")
    (1 to 6).foreach { _ =>
      // nProbe = nList routes through the flat-slab full scan
      idx.searchPacked[Long](spark.createDataset(data.take(10).toSeq),
        k = 3, nProbe = 4).count()
      assert(liveQPreps <= 1,
        s"query-slab cache leak: $liveQPreps live after a call")
    }
    idx.unpersistAssigned()
    assert(liveQPreps == 0, "unpersistAssigned must release the last query slab")
  }

  test("searchPacked (bucketed SIMD path) matches searchMerged ids/ranks in both modes") {
    // ranks/ids must agree wherever scores aren't ties
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    val qds = spark.createDataset(queries.toSeq)
    def rkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ds = rkey(idx.searchMerged[Long](queries, k = 5, nProbe = 2))
    assert(rkey(idx.searchPacked[Long](qds, k = 5, nProbe = 2, exact = true)) == ds)
    // float-kernel default agrees too (separated data, no near-ties)
    assert(rkey(idx.searchPacked[Long](qds, k = 5, nProbe = 2)) == ds)

    // cosine mode (normalized=false) on random data
    val rng = new scala.util.Random(31)
    val rdata = (0 until 120).map { i =>
      (i.toLong, Array.fill(8)((rng.nextFloat() - 0.5f) * 3f))
    }
    val ridx = owned(IvfIndex.build(rdata.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = 4, normalized = false))
    val rq = rdata.filter(_._1 % 29 == 0).toArray
    val rds = rkey(ridx.searchMerged[Long](rq, k = 5, nProbe = 2,
      normalized = false))
    assert(rkey(ridx.searchPacked[Long](spark.createDataset(rq.toSeq),
      k = 5, nProbe = 2, normalized = false, exact = true)) == rds)
  }

  test("searchMerged (shuffle-free driver batch) matches searchPacked bit-for-bit") {
    // same kernels over the same buckets; per-pair scores don't depend
    // on the query grouping, so scores compare on exact bits in both
    // precision modes
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    val qds = spark.createDataset(queries.toSeq)
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(bkey(idx.searchMerged[Long](queries, k = 5, nProbe = 2)) ==
      bkey(idx.searchPacked[Long](qds, k = 5, nProbe = 2)))
    assert(bkey(idx.searchMerged[Long](queries, k = 5, nProbe = 2, exact = true)) ==
      bkey(idx.searchPacked[Long](qds, k = 5, nProbe = 2, exact = true)))
    // cosine mode on random data too
    val rng = new scala.util.Random(47)
    val rdata = (0 until 100).map { i =>
      (i.toLong, Array.fill(8)((rng.nextFloat() - 0.5f) * 3f))
    }
    val ridx = owned(IvfIndex.build(rdata.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = 4, normalized = false))
    val rq = rdata.filter(_._1 % 23 == 0).toArray
    assert(bkey(ridx.searchMerged[Long](rq, k = 5, nProbe = 2,
        normalized = false, exact = true)) ==
      bkey(ridx.searchPacked[Long](spark.createDataset(rq.toSeq), k = 5,
        nProbe = 2, normalized = false, exact = true)))

    // duplicate qids stay independent results on BOTH paths (uid-keyed
    // merge in searchPacked; per-position heaps in searchMerged), and
    // a zero query in normalized mode maps to e0 for probe selection
    // AND scoring on both
    val dupQ = Array((7L, data(3)._2), (7L, data(90)._2),
      (8L, new Array[Float](8)))
    val dm = idx.searchMerged[Long](dupQ, k = 3, nProbe = 1)
    val dp = idx.searchPacked[Long](spark.createDataset(dupQ.toSeq),
      k = 3, nProbe = 1)
    assert(dm.count() == 9 && dp.count() == 9) // 3 hits x 3 query rows
    assert(bkey(dm) == bkey(dp))
  }

  test("searchMergedAllowed: filtered probed scan equals brute-force filtered top-k in both modes; deny/q8 twins agree") {
    import graft.core.SetMember
    def bruteFiltered(rows: Seq[(Long, Array[Float])], allowed: Long => Boolean,
        qs: Array[(Long, Array[Float])], k: Int,
        cosine: Boolean): Set[(Long, Int, Long)] =
      qs.flatMap { case (qid, qv) =>
        val qn = math.sqrt(qv.map(x => x.toDouble * x).sum)
        rows.filter(r => allowed(r._1)).map { case (id, v) =>
          var s = 0.0
          var i = 0
          while (i < v.length) { s += qv(i).toDouble * v(i); i += 1 }
          if (cosine) {
            val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
            s = if (qn == 0.0 || vn == 0.0) 0.0 else s / (qn * vn)
          }
          (id, s)
        }.sortBy(t => (-t._2, t._1)).take(k).zipWithIndex
          .map { case ((id, _), r) => (qid, r + 1, id) }
      }.toSet
    def key(res: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      res.select("qid", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    // normalized store, covering probes: exact filtered by construction
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    val allowSet = data.map(_._1).filter(_ % 3 == 0).toSet
    val member = SetMember(allowSet.toArray)
    val got = idx.searchMergedAllowed[Long](queries, k = 5, member,
      deny = false, nProbe = 4, exact = true)
    assert(key(got) == bruteFiltered(data, allowSet, queries, 5, cosine = false))
    // deny polarity over the complement is the SAME effective set —
    // bit-equal engine output
    val denyMember = SetMember(data.map(_._1).filterNot(allowSet).toArray)
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(bkey(idx.searchMergedAllowed[Long](queries, k = 5, denyMember,
        deny = true, nProbe = 4, exact = true)) ==
      bkey(idx.searchMergedAllowed[Long](queries, k = 5, member,
        deny = false, nProbe = 4, exact = true)))
    // the int8 twin at covering overfetch rescores to the same hits
    assert(key(idx.searchMergedQ8Allowed[Long](queries, k = 5, member,
        deny = false, nProbe = 4, overfetch = 1000)) ==
      bruteFiltered(data, allowSet, queries, 5, cosine = false))
    // cosine mode (un-normalized store, norms carried through the
    // membership compaction) against the double-cosine brute force
    val rng = new scala.util.Random(47)
    val rdata = (0 until 100).map { i =>
      (i.toLong, Array.fill(8)((rng.nextFloat() - 0.5f) * 3f))
    }
    val ridx = owned(IvfIndex.build(rdata.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = 4, normalized = false))
    val rq = rdata.filter(_._1 % 23 == 0).toArray
    val rAllow = rdata.map(_._1).filter(_ % 2 == 1).toSet
    assert(key(ridx.searchMergedAllowed[Long](rq, k = 5, SetMember(rAllow.toArray),
        deny = false, nProbe = 4, normalized = false, exact = true)) ==
      bruteFiltered(rdata, rAllow, rq, 5, cosine = true))
    // adaptive sweep contract: a 2-row allow set at nProbe = 1 returns
    // exactly those 2 rows for every query (the full-sweep guarantee),
    // in multiple passes
    val tiny = idx.searchMergedAllowed[Long](queries, k = 5,
      SetMember(Array(3L, 130L)), deny = false, nProbe = 1, exact = true)
    assert(idx.lastFilteredPasses > 1)
    val byQ = tiny.select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    queries.foreach { case (qid, _) =>
      assert(byQ.getOrElse(qid, Set.empty) == Set(3L, 130L),
        s"query $qid must sweep to both allowed rows")
    }
  }

  test("searchPackedAllowed (bulk filtered twin): bit-equal to searchMergedAllowed, covering + partial probes, deny, adaptive, dup qids") {
    import graft.core.SetMember
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    val qds = queries.toSeq.toDS().repartition(3)
    val allowSet = data.map(_._1).filter(_ % 3 == 0).toSet
    val member = SetMember(allowSet.toArray)
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    // covering probes (flat-pack route) == the driver-batch twin,
    // bit-for-bit — this is the q94 oracle's exactness argument
    assert(bkey(idx.searchPackedAllowed[Long](qds, 5, member, deny = false,
        nProbe = 4, exact = true)) ==
      bkey(idx.searchMergedAllowed[Long](queries, 5, member, deny = false,
        nProbe = 4, exact = true)))
    // deny polarity over the complement: same effective set, bit-equal
    val denyMember = SetMember(data.map(_._1).filterNot(allowSet).toArray)
    assert(bkey(idx.searchPackedAllowed[Long](qds, 5, denyMember, deny = true,
        nProbe = 4, exact = true)) ==
      bkey(idx.searchMergedAllowed[Long](queries, 5, member, deny = false,
        nProbe = 4, exact = true)))
    // partial probes: both twins scan the same centroid-ranked slices
    // under the same underfill rule, so they stay bit-equal below the
    // covering snap too
    assert(bkey(idx.searchPackedAllowed[Long](qds, 5, member, deny = false,
        nProbe = 1, exact = true)) ==
      bkey(idx.searchMergedAllowed[Long](queries, 5, member, deny = false,
        nProbe = 1, exact = true)))
    // adaptive sweep contract, fully distributed: a 2-row allow set at
    // nProbe = 1 returns exactly those rows for every query, and the
    // sweep took multiple passes
    val tiny = idx.searchPackedAllowed[Long](qds, 5,
      SetMember(Array(3L, 130L)), deny = false, nProbe = 1, exact = true)
    val byQ = tiny.select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(idx.lastFilteredPasses > 1)
    queries.foreach { case (qid, _) =>
      assert(byQ.getOrElse(qid, Set.empty) == Set(3L, 130L),
        s"query $qid must sweep to both allowed rows")
    }
    // duplicate qids stay independent results (per-row unique keying)
    val dupDs = Seq(queries(0), queries(0)).toDS()
    val dup = idx.searchPackedAllowed[Long](dupDs, 5, member, deny = false,
      nProbe = 4, exact = true).select("qid", "rank").collect()
    assert(dup.length == 10, s"duplicate qids must each keep k rows: ${dup.length}")
    // matches-nothing allow set short-circuits
    assert(idx.searchPackedAllowed[Long](qds, 5,
      SetMember(Array.empty[Long]), deny = false, nProbe = 4).count() == 0)

    // the int8 composition (fused filtered scan + fp32 rescore): at
    // covering probes + covering overfetch it equals the exact bulk
    // filtered twin bit-for-bit, and the driver-batch q8 twin's hits
    val q8Covering = idx.searchPackedQ8Allowed[Long](qds, 5, member,
      deny = false, nProbe = 4, overfetch = 1000)
    assert(bkey(q8Covering) ==
      bkey(idx.searchPackedAllowed[Long](qds, 5, member, deny = false,
        nProbe = 4, exact = true)))
    def ikey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ikey(q8Covering) ==
      ikey(idx.searchMergedQ8Allowed[Long](queries, 5, member,
        deny = false, nProbe = 4, overfetch = 1000)))
    // adaptive sweep holds through the fused composition too
    val tinyQ8 = idx.searchPackedQ8Allowed[Long](qds, 5,
      SetMember(Array(3L, 130L)), deny = false, nProbe = 1, overfetch = 1000)
    val byQ8 = tinyQ8.select("qid", "id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    queries.foreach { case (qid, _) =>
      assert(byQ8.getOrElse(qid, Set.empty) == Set(3L, 130L),
        s"q8 bulk filtered: query $qid must sweep to both allowed rows")
    }
  }

  test("searchMergedQ8 (IVF-SQ8): rescored path bit-equal to searchMerged exact; scan-only agrees on separated data") {
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    def idkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // overfetch covering every probed row -> no candidate can be lost,
    // and the fp32 rescore uses the exact engine's sequential-double
    // arithmetic: bit-equal to searchMerged(exact = true), both at
    // partial probing (nProbe 1: 2 of 4 lists would snap to the
    // all-list scan) and at nProbe = nList (the q59 oracle anchor)
    Seq(1, 4).foreach { np =>
      val got = bkey(idx.searchMergedQ8[Long](queries, k = 5, nProbe = np,
        overfetch = 1000))
      if (np == 1)
        assert(idx.lastSearchStrategy.startsWith("probe(np=1"), idx.lastSearchStrategy)
      assert(got ==
        bkey(idx.searchMerged[Long](queries, k = 5, nProbe = np, exact = true)),
        s"rescored parity failed at nProbe=$np")
    }
    // realistic overfetch: exact ids on separated data (int8 error is
    // far below the cluster separation)
    assert(idkey(idx.searchMergedQ8[Long](queries, k = 5, nProbe = 2,
        overfetch = 4)) ==
      idkey(idx.searchMerged[Long](queries, k = 5, nProbe = 2, exact = true)))
    // scan-only (approximate scores): id-set agreement on this data
    assert(idkey(idx.searchMergedQ8[Long](queries, k = 5, nProbe = 2)) ==
      idkey(idx.searchMerged[Long](queries, k = 5, nProbe = 2)))

    // cosine mode (un-normalized store, norms ride along full-precision)
    val rng = new scala.util.Random(47)
    val rdata = (0 until 100).map { i =>
      (i.toLong, Array.fill(8)((rng.nextFloat() - 0.5f) * 3f))
    }
    val ridx = owned(IvfIndex.build(rdata.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = 4, normalized = false))
    val rq = rdata.filter(_._1 % 23 == 0).toArray
    assert(bkey(ridx.searchMergedQ8[Long](rq, k = 5, nProbe = 4,
        normalized = false, overfetch = 1000)) ==
      bkey(ridx.searchMerged[Long](rq, k = 5, nProbe = 4,
        normalized = false, exact = true)))

    // duplicate qids independent; zero query -> e0 in normalized mode
    val dupQ = Array((7L, data(3)._2), (7L, data(90)._2),
      (8L, new Array[Float](8)))
    val dq8 = idx.searchMergedQ8[Long](dupQ, k = 3, nProbe = 1, overfetch = 1000)
    assert(dq8.count() == 9)
    assert(bkey(dq8) == bkey(idx.searchMerged[Long](dupQ, k = 3, nProbe = 1,
      exact = true)))
  }

  test("searchMergedPq (IVF-PQ): rescored path bit-equal to searchMerged exact; ADC agrees on separated data") {
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    def idkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // overfetch covering every probed row -> no candidate can be lost,
    // and the fp32 rescore is the exact engine's sequential-double
    // tail (shared with searchMergedQ8): bit-equal to
    // searchMerged(exact = true) at partial probing (nProbe 1) and at
    // nProbe = nList (the q80 oracle anchor)
    Seq(1, 4).foreach { np =>
      val got = bkey(idx.searchMergedPq[Long](queries, k = 5, nProbe = np,
        overfetch = 1000, m = 2))
      if (np == 1)
        assert(idx.lastSearchStrategy.startsWith("probe(np=1"), idx.lastSearchStrategy)
      assert(got ==
        bkey(idx.searchMerged[Long](queries, k = 5, nProbe = np, exact = true)),
        s"rescored parity failed at nProbe=$np")
    }
    // realistic overfetch: cap 40 covers the 40-row cluster, and the
    // cluster separation dwarfs the ADC reconstruction error
    assert(idkey(idx.searchMergedPq[Long](queries, k = 5, nProbe = 2,
        overfetch = 8, m = 2)) ==
      idkey(idx.searchMerged[Long](queries, k = 5, nProbe = 2, exact = true)))
    // ADC-only (approximate scores): id-set agreement on this data
    assert(idkey(idx.searchMergedPq[Long](queries, k = 5, nProbe = 2, m = 2)) ==
      idkey(idx.searchMerged[Long](queries, k = 5, nProbe = 2)))

    // cosine mode (un-normalized store, norms ride along full-precision)
    val rng = new scala.util.Random(47)
    val rdata = (0 until 100).map { i =>
      (i.toLong, Array.fill(8)((rng.nextFloat() - 0.5f) * 3f))
    }
    val ridx = owned(IvfIndex.build(rdata.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = 4, normalized = false))
    val rq = rdata.filter(_._1 % 23 == 0).toArray
    assert(bkey(ridx.searchMergedPq[Long](rq, k = 5, nProbe = 4,
        normalized = false, overfetch = 1000, m = 4)) ==
      bkey(ridx.searchMerged[Long](rq, k = 5, nProbe = 4,
        normalized = false, exact = true)))

    // duplicate qids independent; zero query -> e0 in normalized mode
    val dupQ = Array((7L, data(3)._2), (7L, data(90)._2),
      (8L, new Array[Float](8)))
    val dpq = idx.searchMergedPq[Long](dupQ, k = 3, nProbe = 1,
      overfetch = 1000, m = 2)
    assert(dpq.count() == 9)
    assert(bkey(dpq) == bkey(idx.searchMerged[Long](dupQ, k = 3, nProbe = 1,
      exact = true)))
  }

  test("searchMergedBit (IVF-bit): rescored path bit-equal to searchMerged exact; both modes; dup qids") {
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    // covering overfetch -> the Hamming cut keeps every probed row and
    // the shared fp32 tail is the exact arithmetic: bit-equal to
    // searchMerged(exact) at partial probing (nProbe 1) and at
    // nProbe = nList (the q83 oracle anchor)
    Seq(1, 4).foreach { np =>
      val got = bkey(idx.searchMergedBit[Long](queries, k = 5, nProbe = np,
        overfetch = 1000, bits = 128))
      if (np == 1)
        assert(idx.lastSearchStrategy.startsWith("probe(np=1"), idx.lastSearchStrategy)
      assert(got ==
        bkey(idx.searchMerged[Long](queries, k = 5, nProbe = np, exact = true)),
        s"rescored parity failed at nProbe=$np")
    }
    // cosine mode (un-normalized store): the sketch is scale-invariant,
    // the rescore carries the norms
    val rng = new scala.util.Random(47)
    val rdata = (0 until 100).map { i =>
      (i.toLong, Array.fill(8)((rng.nextFloat() - 0.5f) * 3f))
    }
    val ridx = owned(IvfIndex.build(rdata.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = 4, normalized = false))
    val rq = rdata.filter(_._1 % 23 == 0).toArray
    assert(bkey(ridx.searchMergedBit[Long](rq, k = 5, nProbe = 4,
        normalized = false, overfetch = 1000, bits = 128)) ==
      bkey(ridx.searchMerged[Long](rq, k = 5, nProbe = 4,
        normalized = false, exact = true)))
    // duplicate qids independent; zero query -> e0 in normalized mode
    val dupQ = Array((7L, data(3)._2), (7L, data(90)._2),
      (8L, new Array[Float](8)))
    val dbit = idx.searchMergedBit[Long](dupQ, k = 3, nProbe = 1,
      overfetch = 1000, bits = 128)
    assert(dbit.count() == 9)
    assert(bkey(dbit) == bkey(idx.searchMerged[Long](dupQ, k = 3, nProbe = 1,
      exact = true)))
  }

  test("searchMergedPq query chunking is invisible: tiny table budget bit-equal to one-chunk") {
    // ADC tables are per-query, per-task (`nq * m * ksub * 4` bytes) —
    // graft.pq.table.budget.mb chunks the batch to bound that. Chunks
    // are pure mechanics: each query's heap sees exactly the same
    // probed slabs and the same float table arithmetic whichever chunk
    // it lands in, so results must match BIT-for-bit against the
    // single-chunk default (both ADC-only scores and the rescored
    // exact tail), including duplicate qids split across chunks.
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    // 600 queries at m=4/ksub=160 (160 sampled rows cap the codebook)
    // = 2,560 B of table each: one chunk at the 64 MB default, two
    // chunks (409 + 191) at 1 MB. id 3's vector repeats, so duplicate-
    // content queries land in different chunks.
    val big = Array.tabulate(600)(i =>
      (i.toLong, data(if (i % 50 == 0) 3 else i % data.length)._2))
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val oneChunkAdc = bkey(idx.searchMergedPq[Long](big, k = 3, nProbe = 2, m = 4))
    val oneChunkRescored = bkey(idx.searchMergedPq[Long](big, k = 3,
      nProbe = 2, overfetch = 1000, m = 4))
    spark.conf.set("graft.pq.table.budget.mb", "1")
    try {
      assert(bkey(idx.searchMergedPq[Long](big, k = 3, nProbe = 2, m = 4))
        == oneChunkAdc, "ADC-only chunked != one-chunk")
      assert(bkey(idx.searchMergedPq[Long](big, k = 3, nProbe = 2,
        overfetch = 1000, m = 4)) == oneChunkRescored,
        "rescored chunked != one-chunk")
    } finally spark.conf.unset("graft.pq.table.budget.mb")
  }

  test("searchMergedPq residual codes: ADC-only top-k matches exact when residuals are codebook-representable") {
    // Analytic pin of the WHOLE residual chain (residual sampling ->
    // trainOnRows -> encodeResidual -> per-(query,bucket) dot(q,c)
    // offsets): residual subvectors are drawn from a pool of 8
    // patterns per subspace, so even after the per-bucket shift
    // (designed center - learned coarse centroid) there are at most
    // 8 patterns x nList shifts = 64 distinct values per subspace -
    // well under ksub=256. kmeans++ seeding only ever picks
    // still-uncovered values (covered points carry minD=0 weight), so
    // the trained codebook reaches ZERO quantization error and the
    // ADC-only (overfetch=0) reconstruction dot(q,c)+dot(q,r-hat)
    // equals the true dot up to float rounding; any sign error,
    // missing offset, or train/encode arithmetic drift would break
    // top-k set equality outright. (A statistical tight-cluster
    // variant is hopeless here: within-cluster cosine spread is
    // second-order tiny, so ANY quantization noise randomizes ranks -
    // measured 0.10 recall = the 10/125 within-cluster floor.)
    val rng = new scala.util.Random(11)
    val dim = 16
    val m = 8
    val dsub = dim / m
    val nClusters = 8
    val centers = Array.fill(nClusters)(
      Array.fill(dim)((rng.nextFloat() - 0.5f) * 8f))
    // 8 patterns per subspace, scale 0.5 - big enough gaps that float
    // rounding cannot flip exact-vs-ADC order
    val pool = Array.fill(m, 8)(
      Array.fill(dsub)((rng.nextFloat() - 0.5f) * 1f))
    val data = (0 until 1024).map { i =>
      val c = centers(i % nClusters)
      val v = new Array[Float](dim)
      var s = 0
      while (s < m) {
        val p = pool(s)(rng.nextInt(8))
        var t = 0
        while (t < dsub) { v(s * dsub + t) = c(s * dsub + t) + p(t); t += 1 }
        s += 1
      }
      (i.toLong, v)
    }
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = nClusters, normalized = false))
    val queries = data.filter(_._1 % 37 == 0).toArray
    def topIds(res: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      res.select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = topIds(idx.searchMerged[Long](queries, k = 10,
      nProbe = nClusters, normalized = false, exact = true))
    val adc = topIds(idx.searchMergedPq[Long](queries, k = 10,
      nProbe = nClusters, normalized = false, m = m))
    val recalls = queries.map { case (qid, _) =>
      val ex = exact.getOrElse(qid, Set.empty[Long])
      if (ex.isEmpty) 1.0
      else adc.getOrElse(qid, Set.empty[Long]).count(ex).toDouble / ex.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.95, s"ADC-only residual recall@10 = $mean (floor 0.95; " +
      "zero-quantization-error construction should be ~1.0)")
  }

  test("searchPackedQ8 (bulk IVF-SQ8): fused rescore bit-equal to searchPacked exact") {
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    val qds = spark.createDataset(queries.toSeq)
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    def idkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // covering overfetch -> per-bucket candidate cut keeps everything,
    // fused fp32 rescore is the exact arithmetic: bit-equal to
    // searchPacked(exact) at the same probes (nProbe 1 is partial)
    Seq(1, 4).foreach { np =>
      val got = bkey(idx.searchPackedQ8[Long](qds, k = 5, nProbe = np,
        overfetch = 1000))
      if (np == 1)
        assert(idx.lastSearchStrategy.startsWith("probe(np=1"), idx.lastSearchStrategy)
      assert(got ==
        bkey(idx.searchPacked[Long](qds, k = 5, nProbe = np, exact = true)),
        s"fused rescore parity failed at nProbe=$np")
    }
    // realistic overfetch: exact ids on separated data; scan-only too
    assert(idkey(idx.searchPackedQ8[Long](qds, k = 5, nProbe = 2, overfetch = 4)) ==
      idkey(idx.searchPacked[Long](qds, k = 5, nProbe = 2, exact = true)))
    assert(idkey(idx.searchPackedQ8[Long](qds, k = 5, nProbe = 2)) ==
      idkey(idx.searchPacked[Long](qds, k = 5, nProbe = 2)))
    // cosine mode (un-normalized store)
    val rng = new scala.util.Random(47)
    val rdata = (0 until 100).map { i =>
      (i.toLong, Array.fill(8)((rng.nextFloat() - 0.5f) * 3f))
    }
    val ridx = owned(IvfIndex.build(rdata.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = 4, normalized = false))
    val rq = spark.createDataset(rdata.filter(_._1 % 23 == 0))
    assert(bkey(ridx.searchPackedQ8[Long](rq, k = 5, nProbe = 4,
        normalized = false, overfetch = 1000)) ==
      bkey(ridx.searchPacked[Long](rq, k = 5, nProbe = 4,
        normalized = false, exact = true)))
    // duplicate qids stay independent (uid-keyed merge)
    val dupQ = spark.createDataset(Seq((7L, data(3)._2), (7L, data(90)._2),
      (8L, new Array[Float](8))))
    val dq8 = idx.searchPackedQ8[Long](dupQ, k = 3, nProbe = 1, overfetch = 1000)
    assert(dq8.count() == 9)
    assert(bkey(dq8) == bkey(idx.searchPacked[Long](dupQ, k = 3, nProbe = 1,
      exact = true)))
  }

  test("searchPackedPq (bulk IVF-PQ): fused rescore bit-equal to searchPacked exact; merged agrees") {
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    val qds = spark.createDataset(queries.toSeq)
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    def idkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // covering overfetch -> per-bucket candidate cut keeps everything,
    // fused fp32 rescore is the exact arithmetic: bit-equal to
    // searchPacked(exact) at the same probes (nProbe 1 is partial; the
    // q81 oracle anchor at nProbe = nList)
    Seq(1, 4).foreach { np =>
      val got = bkey(idx.searchPackedPq[Long](qds, k = 5, nProbe = np,
        overfetch = 1000, m = 2))
      if (np == 1)
        assert(idx.lastSearchStrategy.startsWith("probe(np=1"), idx.lastSearchStrategy)
      assert(got ==
        bkey(idx.searchPacked[Long](qds, k = 5, nProbe = np, exact = true)),
        s"fused rescore parity failed at nProbe=$np")
    }
    // realistic overfetch: exact ids on separated data; and the packed
    // path's rescored result matches the merged path's (same kernels,
    // same tie rule, per-bucket cut is a superset of the global cut)
    assert(idkey(idx.searchPackedPq[Long](qds, k = 5, nProbe = 2,
        overfetch = 8, m = 2)) ==
      idkey(idx.searchPacked[Long](qds, k = 5, nProbe = 2, exact = true)))
    assert(bkey(idx.searchPackedPq[Long](qds, k = 5, nProbe = 2,
        overfetch = 1000, m = 2)) ==
      bkey(idx.searchMergedPq[Long](queries, k = 5, nProbe = 2,
        overfetch = 1000, m = 2)))
    // cosine mode (un-normalized store), residual offsets ride the scan
    val rng = new scala.util.Random(47)
    val rdata = (0 until 100).map { i =>
      (i.toLong, Array.fill(8)((rng.nextFloat() - 0.5f) * 3f))
    }
    val ridx = owned(IvfIndex.build(rdata.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = 4, normalized = false))
    val rq = spark.createDataset(rdata.filter(_._1 % 23 == 0))
    Seq(true, false).foreach { byRes =>
      assert(bkey(ridx.searchPackedPq[Long](rq, k = 5, nProbe = 4,
          normalized = false, overfetch = 1000, m = 4, byResidual = byRes)) ==
        bkey(ridx.searchPacked[Long](rq, k = 5, nProbe = 4,
          normalized = false, exact = true)),
        s"cosine parity failed at byResidual=$byRes")
    }
    // duplicate qids stay independent (uid-keyed merge)
    val dupQ = spark.createDataset(Seq((7L, data(3)._2), (7L, data(90)._2),
      (8L, new Array[Float](8))))
    val dpq = idx.searchPackedPq[Long](dupQ, k = 3, nProbe = 1,
      overfetch = 1000, m = 2)
    assert(dpq.count() == 9)
    assert(bkey(dpq) == bkey(idx.searchPacked[Long](dupQ, k = 3, nProbe = 1,
      exact = true)))
  }

  test("searchPackedBit (bulk IVF-bit, round 18): fused rescore bit-equal to searchPacked exact; merged agrees") {
    val data = clusteredData()
    val idx = owned(IvfIndex.build(data.toDF("vec_id", "vec"), "vec_id", "vec", nList = 4))
    val queries = data.filter(_._1 % 17 == 0).toArray
    val qds = spark.createDataset(queries.toSeq)
    def bkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    def idkey(res: org.apache.spark.sql.DataFrame) =
      res.select("qid", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // covering overfetch -> per-bucket Hamming cut keeps everything,
    // fused fp32 rescore is the exact arithmetic: bit-equal to
    // searchPacked(exact) at the same probes (nProbe 1 is partial; the
    // q101 oracle anchor at nProbe = nList)
    Seq(1, 4).foreach { np =>
      val got = bkey(idx.searchPackedBit[Long](qds, k = 5, nProbe = np,
        overfetch = 1000))
      if (np == 1)
        assert(idx.lastSearchStrategy.startsWith("probe(np=1"), idx.lastSearchStrategy)
      assert(got ==
        bkey(idx.searchPacked[Long](qds, k = 5, nProbe = np, exact = true)),
        s"fused rescore parity failed at nProbe=$np")
    }
    // realistic overfetch: exact ids on separated data; and the packed
    // path's rescored result matches the merged bit twin at covering
    // overfetch (same sketch seed, same rescore arithmetic)
    assert(idkey(idx.searchPackedBit[Long](qds, k = 5, nProbe = 2,
        overfetch = 16)) ==
      idkey(idx.searchPacked[Long](qds, k = 5, nProbe = 2, exact = true)))
    assert(bkey(idx.searchPackedBit[Long](qds, k = 5, nProbe = 2,
        overfetch = 1000)) ==
      bkey(idx.searchMergedBit[Long](queries, k = 5, nProbe = 2,
        overfetch = 1000)))
    // cosine mode (un-normalized store): the sketch is scale-invariant,
    // the rescore uses the stored norms
    val rng = new scala.util.Random(47)
    val rdata = (0 until 100).map { i =>
      (i.toLong, Array.fill(8)((rng.nextFloat() - 0.5f) * 3f))
    }
    val ridx = owned(IvfIndex.build(rdata.toDF("vec_id", "vec"), "vec_id", "vec",
      nList = 4, normalized = false))
    val rq = spark.createDataset(rdata.filter(_._1 % 23 == 0))
    assert(bkey(ridx.searchPackedBit[Long](rq, k = 5, nProbe = 4,
        normalized = false, overfetch = 1000)) ==
      bkey(ridx.searchPacked[Long](rq, k = 5, nProbe = 4,
        normalized = false, exact = true)))
    // duplicate qids stay independent (uid-keyed merge)
    val dupQ = spark.createDataset(Seq((7L, data(3)._2), (7L, data(90)._2),
      (8L, new Array[Float](8))))
    val dbit = idx.searchPackedBit[Long](dupQ, k = 3, nProbe = 1, overfetch = 1000)
    assert(dbit.count() == 9)
    assert(bkey(dbit) == bkey(idx.searchPacked[Long](dupQ, k = 3, nProbe = 1,
      exact = true)))
  }

  test("searchPacked/searchMerged reject a mis-dimensioned query like search does") {
    val idx = owned(IvfIndex.build(clusteredData().toDF("vec_id", "vec"),
      "vec_id", "vec", nList = 4))
    val bad = Array((7L, Array.fill(5)(0.1f))) // index dim is 8
    val em = intercept[IllegalArgumentException] {
      idx.searchMerged[Long](bad, k = 3, nProbe = 1)
    }
    assert(em.getMessage.contains("dim 5") && em.getMessage.contains("index dim is 8"))
    val ep = intercept[Exception] {
      idx.searchPacked[Long](spark.createDataset(bad.toSeq), k = 3, nProbe = 1)
        .count() // lazy: the per-row guard fires inside the job
    }
    assert(ep.getMessage != null && ep.getMessage.contains("dim 5"))
  }

  test("probe-fraction crossover: past the fraction nProbe snaps to the exact all-list scan (VERDICT r12 #1)") {
    val rng = new scala.util.Random(31)
    val data = (0 until 300).map { i =>
      val v = Array.fill(8)((rng.nextFloat() - 0.5f))
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat))
    }
    val df = data.toDF("vec_id", "vec")
    val idx = owned(IvfIndex.build(df, "vec_id", "vec", nList = 16))
    val queries = data.take(6).toArray
    def bkey(d: org.apache.spark.sql.DataFrame) =
      d.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // default fraction 0.5 on nList=16: nProbe=8 crosses, snaps to 16
    val snapped = bkey(idx.searchMerged[Long](queries, k = 5, nProbe = 8))
    assert(idx.lastSearchStrategy == "exact_snap(requested=8)")
    val full = bkey(idx.searchMerged[Long](queries, k = 5, nProbe = 16))
    assert(idx.lastSearchStrategy == "exact_all_lists")
    assert(snapped == full, "snapped search must equal the all-list exact scan")
    // below the fraction: genuinely probed, strategy says so
    idx.searchMerged[Long](queries, k = 5, nProbe = 2).count()
    assert(idx.lastSearchStrategy == "probe(np=2)")
    // the knob disables the snap (fraction >= 1.0) — and every search
    // path resolves through the same rule, so parity holds either way
    spark.conf.set("graft.ann.exactscan.fraction", "1.0")
    try {
      idx.searchMerged[Long](queries, k = 5, nProbe = 8).count()
      assert(idx.lastSearchStrategy == "probe(np=8)")
      idx.searchPacked[Long](spark.createDataset(queries.toSeq), k = 5,
        nProbe = 8).count()
      assert(idx.lastSearchStrategy == "probe(np=8)")
    } finally spark.conf.unset("graft.ann.exactscan.fraction")
    // driver-batch default (nProbe <= 0 -> nList/2) snaps too: the
    // DEFAULT configuration must never cost more than the exact scan
    idx.searchMerged[Long](queries, k = 5).count()
    assert(idx.lastSearchStrategy == "exact_snap(requested=8)")

    // quantized paths must NOT claim the snap is exact: probing every
    // bucket through lossy codes stays code-ranked (ADVICE-style
    // honesty — the r15 review caught "exact_snap" on a PQ scan whose
    // measured recall was ~0.02)
    idx.searchMergedQ8[Long](queries, k = 5, nProbe = 8).count()
    assert(idx.lastSearchStrategy == "all_lists_snap(requested=8, tier=q8)")
    idx.searchMergedPq[Long](queries, k = 5, nProbe = 8, m = 2).count()
    assert(idx.lastSearchStrategy == "all_lists_snap(requested=8, tier=pq)")
    idx.searchMergedPq[Long](queries, k = 5, nProbe = 16, m = 2).count()
    assert(idx.lastSearchStrategy == "all_lists(tier=pq)")
    idx.searchMergedQ8[Long](queries, k = 5, nProbe = 2).count()
    assert(idx.lastSearchStrategy == "probe(np=2, tier=q8)")
    idx.searchMergedBit[Long](queries, k = 5, nProbe = 8, bits = 64).count()
    assert(idx.lastSearchStrategy == "all_lists_snap(requested=8, tier=bit)")

    // the full scan (snapped or requested) routes through the FLAT
    // slab pack (r13 wrong #2) on both driver-batch and Dataset-query
    // paths — results stay bit-identical to the bucketed machinery
    // (`full` above ran the same route; genuine-probed np=2 pinned it
    // against the old path earlier in this test), and duplicate qids /
    // zero queries keep their per-position independence on the new
    // searchPacked route too
    val dupQ = data.take(2).map(_._2)
    val dq = Array((7L, dupQ(0)), (7L, dupQ(1)),
      (8L, new Array[Float](8)))
    val dm = idx.searchMerged[Long](dq, k = 3, nProbe = 16)
    val dp = idx.searchPacked[Long](spark.createDataset(dq.toSeq), k = 3,
      nProbe = 16)
    def dkey(d: org.apache.spark.sql.DataFrame) =
      d.select("qid", "rank", "id", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(dm.count() == 9 && dp.count() == 9)
    assert(dkey(dm) == dkey(dp))
    assert(dkey(idx.searchPacked[Long](spark.createDataset(dq.toSeq), k = 3,
      nProbe = 8)) == dkey(dp)) // snapped == requested full scan
  }

  test("nProbe = nList degenerates to exact search on random data") {
    val rng = new scala.util.Random(9)
    val data = (0 until 200).map { i =>
      val v = Array.fill(8)((rng.nextFloat() - 0.5f))
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat))
    }
    val df = data.toDF("vec_id", "vec")
    val idx = owned(IvfIndex.build(df, "vec_id", "vec", nList = 8))
    val queries = data.take(5).toArray
    val ann = idx.searchMerged[Long](queries, k = 10, nProbe = 8, exact = true)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = queries.flatMap { case (qid, q) =>
      data.map { case (id, v) =>
        val s = q.zip(v).map { case (a, b) => a.toDouble * b.toDouble }.sum
        (qid, id, s)
      }.sortBy { case (_, id, s) => (-s, id) }.take(10).zipWithIndex
        .map { case ((_, id, _), r) => (qid, r + 1, id) }
    }.toSet
    assert(ann == exact)
  }

  test("recall@10 floor on realistic (overlapping-cluster) data: >= 0.9 at nProbe=4/16") {
    // NOT the separated-cluster layout: 16 basis-direction clusters with
    // heavy jitter, so buckets genuinely overlap and nProbe matters —
    // the recall measurement the reference's bench does against ground
    // truth (bench/hf_query.py:22-51), as a seeded deterministic floor.
    val rng = new scala.util.Random(2024)
    val dim = 16
    val data = (0 until 2000).map { i =>
      val c = i % 16
      val v = Array.fill(dim)((rng.nextFloat() - 0.5f) * 0.8f)
      v(c) += 1f
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat))
    }
    val df = data.toDF("vec_id", "vec")
    val idx = owned(IvfIndex.build(df, "vec_id", "vec", nList = 16))
    val queries = data.filter(_._1 % 40 == 0).toArray // 50 queries
    val exact = queries.map { case (qid, q) =>
      qid -> data.map { case (id, v) =>
        (id, q.zip(v).map { case (a, b) => a.toDouble * b.toDouble }.sum)
      }.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    }.toMap
    def recallAt(nProbe: Int): Double = {
      val approx = idx.searchMerged[Long](queries, k = 10, nProbe = nProbe)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      queries.map { case (qid, _) =>
        approx.getOrElse(qid, Set.empty[Long]).count(exact(qid)).toDouble / 10.0
      }.sum / queries.length
    }
    val r4 = recallAt(4)
    assert(r4 >= 0.9, s"recall@10 at nProbe=4 was $r4")
    assert(recallAt(16) == 1.0) // nProbe = nList degenerates to exact
  }

  test("small upsert refreshes incrementally (no refit); large churn refits (test_task36 analog)") {
    val s = VdbStore.empty(spark, 4)
    val recs = (0 until 100).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f
      VdbRecord(s"r$i", v, null)
    }
    s.upsert(recs)
    s.enableAnn(nList = 4)
    s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3)
    assert(s.annInfo.lastRebuildMode == "full" && s.annInfo.upToDate)

    // 5/100 mutated = 5% <= 20% ratio -> incremental (centroids kept)
    s.upsert((0 until 5).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f; v((i + 1) % 4) = 0.2f
      VdbRecord(s"x$i", v, null)
    })
    s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3)
    assert(s.annInfo.lastRebuildMode == "incremental" && s.annInfo.upToDate)

    // 40 more mutations -> 45/105 > 20% -> full refit
    s.upsert((0 until 40).map { i =>
      val v = new Array[Float](4); v((i + 2) % 4) = 1f
      VdbRecord(s"y$i", v, null)
    })
    s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3)
    assert(s.annInfo.lastRebuildMode == "full")
  }

  test("ANN state survives save/load; reload answers without refit (test_task15 analog)") {
    val dir = java.nio.file.Files.createTempDirectory("vdbann").toString + "/store"
    val s = VdbStore.empty(spark, 4)
    s.upsert((0 until 80).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f
      VdbRecord(s"r$i", v, null)
    })
    s.enableAnn(nList = 4)
    val before = s.queryOne(Array(0f, 1f, 0f, 0f), topK = 5).map(_.id)
    s.save(dir)
    val loaded = VdbStore.load(spark, dir)
    assert(loaded.annInfo.enabled && loaded.annInfo.lastRebuildMode == "restored")
    val after = loaded.queryOne(Array(0f, 1f, 0f, 0f), topK = 5).map(_.id)
    assert(after == before)
    assert(loaded.annInfo.lastRebuildMode == "restored") // no refit happened
  }

  test("ANN search never returns deleted ids; index tracks actives only (test_task13 analog)") {
    val s = VdbStore.empty(spark, 8)
    val rng = new scala.util.Random(77)
    s.upsert((0 until 10).map { i =>
      val v = Array.fill(8)(rng.nextFloat())
      VdbRecord(s"id$i", v, null)
    })
    s.enableAnn(nList = 2)
    s.queryOne(Array.fill(8)(rng.nextFloat()), topK = 10) // build
    s.delete((0 until 5).map(i => s"id$i"))
    val hits = s.queryOne(Array.fill(8)(rng.nextFloat()), topK = 10)
    assert(hits.nonEmpty)
    assert(hits.map(_.id).forall(id => id.drop(2).toInt >= 5))
    assert(s.annInfo.upToDate) // refreshed over actives only
  }

  test("auto ANN defaults: nList scales with sqrt(N); default nProbe is nList/2") {
    assert(IvfIndex.defaultNList(100) == 10)
    assert(IvfIndex.defaultNList(100000) == 316)
    assert(IvfIndex.defaultNList(0) == 4) // floor for tiny stores
    assert(IvfIndex.defaultNProbe(16) == 8)
    assert(IvfIndex.defaultNProbe(1) == 1)

    val s = VdbStore.empty(spark, 4)
    s.upsert((0 until 120).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f
      VdbRecord(f"r$i%03d", v, null)
    })
    s.enableAnn() // auto mode: no pinned list count
    val hits = s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3) // lazy build
    assert(hits.nonEmpty)
    assert(s.annInfo.lastRebuildMode == "full")
    assert(s.annInfo.nList == IvfIndex.defaultNList(120)) // = 11
    // small churn re-buckets under the FITTED count (no refit even
    // though sqrt(N) drifted)
    s.upsert(Seq(VdbRecord("z0", Array(0f, 0f, 1f, 0f), null)))
    s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3)
    assert(s.annInfo.lastRebuildMode == "incremental")
    assert(s.annInfo.nList == IvfIndex.defaultNList(120))
  }

  test("GraftConf resolves spark.conf overrides with defaults (test_task48 analog)") {
    val conf = new graft.core.GraftConf(spark)
    assert(conf.inListMax == 1000 && conf.annNProbeOpt.isEmpty &&
      conf.annNProbeFor(16) == 8 && // unset -> nList/2 recall-first default
      conf.annIncrRatio == 0.2 && conf.annSampleCap == 20000 &&
      conf.snapshotsKeep == 1 && !conf.queryExact)
    spark.conf.set("graft.ann.nprobe", "9")
    spark.conf.set("graft.inlist.max", "7")
    spark.conf.set("graft.snapshots.keep", "3")
    spark.conf.set("graft.query.exact", "true")
    try {
      assert(conf.annNProbeFor(16) == 9 && conf.inListMax == 7 &&
        conf.snapshotsKeep == 3 && conf.queryExact)
    } finally {
      spark.conf.unset("graft.ann.nprobe")
      spark.conf.unset("graft.inlist.max")
      spark.conf.unset("graft.snapshots.keep")
      spark.conf.unset("graft.query.exact")
    }
  }

  test("rebuildIndex forces an immediate full refit (pico rebuild_index)") {
    val s = VdbStore.empty(spark, 4)
    s.upsert((0 until 60).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f
      VdbRecord(s"r$i", v, null)
    })
    s.enableAnn(nList = 4)
    s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3)
    s.upsert(Seq(VdbRecord("extra", Array(0f, 0f, 0f, 1f), null)))
    s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3)
    assert(s.annInfo.lastRebuildMode == "incremental")
    s.rebuildIndex()
    assert(s.annInfo.lastRebuildMode == "full" && s.annInfo.upToDate)
  }

  test("VdbStore lazy ANN: unfiltered queries use it, filtered bypass (O28), mutation dirties it (O26)") {
    val s = VdbStore.empty(spark, 4)
    val recs = (0 until 60).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f; v((i + 1) % 4) = 0.1f * (i % 3)
      VdbRecord(s"r$i", v, s"""{"g": ${i % 4}}""")
    }
    s.upsert(recs)
    s.enableAnn(nList = 4)
    assert(s.lastQueryStrategy.isEmpty) // no query yet
    val hits = s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3)
    assert(hits.size == 3 && hits.head.metrics > 0.9)
    // strategy introspection — the `_last_topk_strategy` analog
    // (pico_vdb.py:160-167; tests/test_task48_tuning_knobs.py:39-52)
    assert(s.lastQueryStrategy.contains("ann"))
    // filtered query still correct (exact path)
    val f = s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3,
      where = Some(org.apache.spark.sql.functions.get_json_object(
        col("meta"), "$.g") === "1"))
    assert(f.nonEmpty)
    assert(s.lastQueryStrategy.contains("exact-filtered"))
    // thresholded query takes the deterministic exact path (O28
    // conservative deviation), reported as such
    s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3, betterThan = Some(0.1))
    assert(s.lastQueryStrategy.contains("exact"))
    // mutation invalidates; next unfiltered query rebuilds and still answers
    s.delete(Seq("r0"))
    val again = s.queryOne(Array(1f, 0f, 0f, 0f), topK = 3)
    assert(again.nonEmpty && again.map(_.id).forall(_ != "r0"))
    assert(s.lastQueryStrategy.contains("ann")) // rebuilt, back on the index
  }

  test("fitCentroids is layout-independent: same centroids for any partitioning/order") {
    // content-hash sampling + canonical driver-side sort: the fit must
    // not depend on partition count, row order, or shuffle fetch order
    // (the r12 bench observed an np1 recall flap from exactly this)
    val rng = new scala.util.Random(7)
    val rows = (0 until 3000).map { i =>
      val v = Array.fill(6)(rng.nextFloat())
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, v.map(_ / n))
    }
    val base = rows.toDF("id", "vec")
    val layouts = Seq(
      base.repartition(7),
      base.repartition(3, col("id")),
      base.orderBy(col("id").desc).repartition(11))
    val fits = layouts.map(df =>
      IvfIndex.fitCentroids(df, "vec", nList = 8, sampleCap = 500))
    val head = fits.head
    fits.tail.foreach { f =>
      assert(f.length == head.length)
      f.zip(head).foreach { case (a, b) => assert(a.sameElements(b)) }
    }
  }
}
