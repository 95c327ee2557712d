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

  test("incremental maintenance matches a model: 30 refreshes of upserts and deletes, both store modes") {
    val ratio = new graft.core.GraftConf(spark).annIncrRatio
    val dim = 16
    val k = 5
    Seq(true, false).foreach { unitMode =>
      val mode = if (unitMode) "unit" else "cosine"
      val rng = new scala.util.Random(if (unitMode) 211 else 223)
      def vec(): Array[Float] = {
        val v = Array.fill(dim)(rng.nextFloat() - 0.5f)
        if (!unitMode) v
        else {
          val n = math.sqrt(v.map(x => x.toDouble * x).sum)
          v.map(x => (x / n).toFloat)
        }
      }
      // the store's exact arithmetic: a plain dot over unit rows, the
      // cosine over raw rows
      def score(q: Array[Float], v: Array[Float]): Double = {
        val dot = q.zip(v).map { case (a, b) => a.toDouble * b.toDouble }.sum
        if (unitMode) dot
        else {
          val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
          val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
          if (qn == 0.0 || vn == 0.0) 0.0 else dot / (qn * vn)
        }
      }
      val model = scala.collection.mutable.LinkedHashMap[Long, Array[Float]]()
      (0 until 480).foreach(i => model(i.toLong) = vec())
      var nextId = 1000L
      def build(rows: Seq[(Long, Array[Float])]): HnswStore[Long] =
        owned(HnswStore.fromDataset[Long](rows.toDS(), normalize = false,
          assumeNormalized = unitMode, numShards = 3).persist())
      def top(qs: Seq[(Long, Array[Float])], rows: Seq[(Long, Array[Float])],
              kk: Int): Map[Long, Seq[(Long, Double)]] =
        qs.map { case (qid, q) =>
          qid -> rows.map { case (id, v) => (id, score(q, v)) }
            .sortBy { case (id, s) => (-s, id) }.take(kk)
        }.toMap
      def hits(df: org.apache.spark.sql.DataFrame): Array[(Long, Int, Long, Double)] =
        df.select(col("qid"), col("rank"), col("id"), col("score")).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      def recall(st: HnswStore[Long], qs: Array[(Long, Array[Float])],
                 want: Map[Long, Seq[(Long, Double)]]): Double = {
        // the smallest beam (ef = k), so graph quality shows in recall
        val got = hits(st.searchMerged(qs, 10, ef = 10)).groupBy(_._1)
        qs.map { case (qid, _) =>
          val g = got.getOrElse(qid, Array.empty).map(_._3).toSet
          want(qid).count(w => g(w._1)).toDouble / want(qid).size
        }.sum / qs.length
      }

      var store = build(model.toSeq)
      store.materialize()
      var compactions = 0
      var sawDead = false
      var sawSharedSupersede = false
      var prevDead = 0
      (1 to 30).foreach { round =>
        val at = s"$mode round $round"
        val live = model.keys.toSeq
        val upd = rng.shuffle(live).take(8)
        val del = rng.shuffle(live.filterNot(upd.contains)).take(6)
        val ins = (0 until 5).map { _ => nextId += 1; nextId }
        val old = (upd ++ del).map(id => id -> model(id))
        val changed = (upd ++ ins).map(id => id -> vec())
        changed.foreach { case (id, v) => model(id) = v }
        del.foreach(model.remove)
        val refreshed = owned(store.rebuildTouched((upd ++ del ++ ins).toSet,
          spark.sparkContext.parallelize(changed, 2)).persist())
        assert(refreshed.materialize()._1 == model.size.toLong,
          s"$at: materialize must report live rows")
        store.unpersist()
        store = refreshed
        val rows = model.toSeq

        // shard layout: a node is dead when its (id, vector) is no longer
        // the model's; every live row sits in exactly one shard
        val layout = store.shards.map { sh =>
          val b = sh.block
          (b.ids.toSeq, (0 until b.rows).map(r =>
            java.util.Arrays.copyOfRange(b.data, r * b.dim, (r + 1) * b.dim)))
        }.collect()
        var liveSeen = Map.empty[Long, Int]
        var dead = 0
        layout.foreach { case (ids, vs) =>
          if (ids.distinct.length < ids.length) sawSharedSupersede = true
          var shardDead = 0
          ids.zip(vs).foreach { case (id, v) =>
            if (model.get(id).exists(java.util.Arrays.equals(_, v)))
              liveSeen = liveSeen.updated(id, liveSeen.getOrElse(id, 0) + 1)
            else shardDead += 1
          }
          assert(shardDead <= ratio * ids.length,
            s"$at: a shard holds $shardDead dead of ${ids.length} nodes, past the ratio")
          dead += shardDead
        }
        assert(liveSeen.keySet == model.keySet && liveSeen.values.forall(_ == 1),
          s"$at: every live row sits in exactly one shard")
        if (dead > 0) sawDead = true
        if (dead < prevDead) compactions += 1
        prevDead = dead

        // exact: brute force over the live rows — ids, ranks, scores
        val qs = (old.take(6).map(_._2) ++ changed.take(3).map(_._2) ++
          Seq.fill(3)(vec())).zipWithIndex.map { case (v, i) => (i.toLong, v) }.toArray
        val want = top(qs.toSeq, rows, k)
        def assertExact(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
          val got = hits(df)
          assert(got.length == qs.length * k, s"$at $name: ${got.length} rows")
          got.foreach { case (qid, rank, id, s) =>
            val (wid, ws) = want(qid)(rank - 1)
            assert(id == wid && math.abs(s - ws) < 1e-9,
              s"$at $name qid=$qid rank=$rank: got ($id, $s) want ($wid, $ws)")
          }
        }
        val allow = graft.core.SetMember((model.keys ++ del).toArray)
        assertExact("searchMerged exact", store.searchMerged(qs, k, exact = true))
        assertExact("searchMergedMember exact",
          store.searchMergedMember(qs, k, allow, deny = false, exact = true))
        assertExact("searchMergedMemberQ8 covering",
          store.searchMergedMemberQ8(qs, k, allow, deny = false, ef = 10000,
            overfetch = 10000))

        // no dead node surfaces through any entry point: every hit is a
        // live id, once per query, carrying its current vector's score
        val deny = graft.core.SetMember(
          rng.shuffle(model.keys.filterNot(upd.contains).toSeq).take(20).toArray)
        val qds = qs.toSeq.toDS().repartition(2)
        val entries = Seq(
          "searchMerged" -> store.searchMerged(qs, k, ef = 16),
          "searchPacked" -> store.searchPacked(qds, k, ef = 16),
          "searchMergedMember" -> store.searchMergedMember(qs, k, allow, deny = false, ef = 16),
          "searchPackedMember" -> store.searchPackedMember(qds, k, deny, deny = true, ef = 16),
          "searchMergedMemberQ8" -> store.searchMergedMemberQ8(qs, k, allow, deny = false, ef = 16),
          "searchPackedMemberQ8" -> store.searchPackedMemberQ8(qds, k, deny, deny = true, ef = 16))
        val qv = qs.toMap
        entries.foreach { case (name, df) =>
          val got = hits(df)
          got.groupBy(_._1).foreach { case (qid, hs) =>
            assert(hs.map(_._3).distinct.length == hs.length,
              s"$at $name qid=$qid: an id surfaced twice")
          }
          got.foreach { case (qid, _, id, s) =>
            assert(model.contains(id), s"$at $name qid=$qid: deleted id $id surfaced")
            assert(math.abs(s - score(qv(qid), model(id))) < 1e-4,
              s"$at $name qid=$qid: id $id scored $s, its live row scores " +
                s"${score(qv(qid), model(id))}")
          }
        }
        // a filter whose only members are dead nodes plus two live rows:
        // the underfill snap returns exactly the live two
        val tiny = graft.core.SetMember((del ++ upd.take(2)).toArray)
        Seq("searchMergedMember" -> store.searchMergedMember(qs, k, tiny, deny = false, ef = 8),
            "searchMergedMemberQ8" -> store.searchMergedMemberQ8(qs, k, tiny, deny = false, ef = 8))
          .foreach { case (name, df) =>
            val got = hits(df)
            qs.foreach { case (qid, _) =>
              assert(got.filter(_._1 == qid).map(_._3).sorted.toSeq == upd.take(2).sorted,
                s"$at $name qid=$qid: a sub-k filter must surface exactly its live members")
            }
          }

        // graph recall stays within 0.02 of a fresh build over the same rows
        val rq = (changed.map(_._2) ++ Seq.fill(27)(vec()))
          .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toArray
        val wantR = top(rq.toSeq, rows, 10)
        val fresh = build(rows.sortBy(_._1))
        val rFresh = recall(fresh, rq, wantR)
        val rIncr = recall(store, rq, wantR)
        fresh.unpersist()
        assert(rIncr >= rFresh - 0.02, s"$at: recall@10 $rIncr vs a fresh build's $rFresh")
      }
      assert(sawDead, s"$mode: updates and deletes must leave tombstones")
      assert(sawSharedSupersede,
        s"$mode: an updated id's new row must land in the shard of its old one")
      assert(compactions > 0, s"$mode: no shard was ever compacted")
      store.unpersist()
    }
  }

  test("refreshes keep the shards' lineage bounded: 40 refreshes, at most 2x refresh 1") {
    var rows = randData(120, 8, seed = 37, unit = true).toMap
    var store = owned(HnswStore.fromDataset[Long](rows.toSeq.toDS(),
      normalize = false, assumeNormalized = true, numShards = 2).persist())
    store.materialize()
    val rng = new scala.util.Random(41)
    var first = 0
    (1 to 40).foreach { refresh =>
      val ids = Seq(rng.nextInt(120).toLong, 1000L + refresh)
      val changed = ids.map { id =>
        val v = Array.fill(8)(rng.nextFloat() - 0.5f)
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        (id, v.map(x => (x / n).toFloat))
      }
      rows = rows ++ changed
      val next = owned(store.rebuildTouched(ids.toSet,
        spark.sparkContext.parallelize(changed, 1)).persist())
      assert(next.materialize()._1 == rows.size.toLong)
      store.unpersist()
      store = next
      val len = store.shards.toDebugString.length
      if (refresh == 1) first = len
      else assert(len <= 2 * first,
        s"refresh $refresh: lineage ${len} characters, ${first} after refresh 1")
    }
    store.unpersist()
  }

  test("a full slab tombstones its updated rows and passes them on: one extended graph, then one fresh shard") {
    val dim = 8
    val mbf = 40 * dim // 40-row slabs
    def unit(rng: scala.util.Random): Array[Float] = {
      val v = Array.fill(dim)(rng.nextFloat() - 0.5f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    var rows = randData(100, dim, seed = 43, unit = true).toMap
    var store = owned(HnswStore.fromDataset[Long](rows.toSeq.sortBy(_._1).toDS(),
      normalize = false, assumeNormalized = true, numShards = 1,
      maxBlockFloats = mbf).persist())
    assert(store.materialize() == ((100L, 3)))
    def layout(st: HnswStore[Long]): Seq[(Seq[Long], Int)] =
      st.shards.map(sh => (sh.block.ids.toSeq, sh.liveRows)).collect().toSeq
    val before = layout(store)
    assert(before.map(_._1.length) == Seq(40, 40, 20))
    val rng = new scala.util.Random(47)
    def refresh(dirty: Seq[Long], changed: Seq[(Long, Array[Float])]): Unit = {
      rows = rows ++ changed
      val next = owned(store.rebuildTouched(dirty.toSet,
        spark.sparkContext.parallelize(changed, 1), maxBlockFloats = mbf).persist())
      assert(next.materialize()._1 == rows.size.toLong)
      store.unpersist()
      store = next
    }

    // 1) three updates in the first (full) slab: tombstoned there, their
    // new rows extend the last shard — one build, no slab rebuilt
    val upd = before.head._1.take(3)
    val builds1 = Hnsw.buildsInJvm
    refresh(upd, upd.map(id => id -> unit(rng)))
    assert(Hnsw.buildsInJvm == builds1 + 1, "one extended graph, not a full slab")
    val after1 = layout(store)
    assert(after1.head == ((before.head._1, 37)), "the full slab keeps its nodes, 3 dead")
    assert(after1(1) == before(1))
    assert(after1(2)._1 == before(2)._1 ++ upd.sorted && after1(2)._2 == 23)

    // 2) 25 new ids: 17 fill the last shard's room, 8 build a fresh shard
    val ins = (1000L until 1025L)
    val builds2 = Hnsw.buildsInJvm
    refresh(ins, ins.map(id => id -> unit(rng)))
    assert(Hnsw.buildsInJvm == builds2 + 2)
    val after2 = layout(store)
    assert(after2.map(_._1.length) == Seq(40, 40, 40, 8))
    assert(after2(3)._1 == ins.drop(17))

    val queries = (upd.map(rows(_)) ++ Seq.fill(4)(unit(rng)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toArray
    val want = brute(rows.toSeq, queries.toSeq, 5)
    val got = store.searchMerged(queries, 5, exact = true)
      .select(col("qid"), col("rank"), col("id")).collect()
    assert(got.length == queries.length * 5)
    got.foreach(r => assert(r.getLong(2) == want(r.getLong(0))(r.getInt(1) - 1)._1))
  }

  test("a retired store stays readable for pinned reads and handed-out frames, and is freed otherwise") {
    val data = randData(150, 8, seed = 53, unit = true)
    var rows = data.toMap
    val base = owned(HnswStore.fromDataset[Long](data.toDS(),
      normalize = false, assumeNormalized = true, numShards = 2).persist())
    base.materialize()
    val rng = new scala.util.Random(59)
    def refreshed(from: HnswStore[Long]): HnswStore[Long] = {
      val changed = Seq(rng.nextInt(150).toLong, 2000L + rng.nextInt(1000)).map { id =>
        val v = Array.fill(8)(rng.nextFloat() - 0.5f)
        val n = math.sqrt(v.map(x => x.toDouble * x).sum)
        (id, v.map(x => (x / n).toFloat))
      }
      rows = rows ++ changed
      val next = owned(from.rebuildTouched(changed.map(_._1).toSet,
        spark.sparkContext.parallelize(changed, 1)).persist())
      next.materialize()
      next
    }
    def cached(st: HnswStore[Long]): Boolean =
      spark.sparkContext.getPersistentRDDs.contains(st.shards.id)
    def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.select(col("qid"), col("rank"), col("id")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(h => (h._1, h._2)).toSeq
    val queries = data.take(4).toArray

    // a read pinned before the retire keeps the checkpointed shards
    // until it is released
    val r1 = refreshed(base)
    assert(r1.shards.isCheckpointed)
    val want1 = hits(r1.searchMerged(queries, 5, exact = true))
    r1.acquire()
    val r2 = refreshed(r1)
    r1.retire()
    assert(cached(r1))
    assert(hits(r1.searchMerged(queries, 5, exact = true)) == want1)
    r1.release()
    assert(!cached(r1), "the last pinned read frees a retired store")

    // a handed-out lazy frame, first collected after the retire, still
    // reads the shards
    val frame = r2.searchPacked(queries.toSeq.toDS(), 5, exact = true)
    val want2 = hits(r2.searchMerged(queries, 5, exact = true))
    val r3 = refreshed(r2)
    r2.retire()
    assert(cached(r2))
    assert(hits(frame) == want2, "a superseded frame collects the rows of its store")

    // neither: retiring frees the store at once
    refreshed(r3)
    r3.retire()
    assert(!cached(r3))
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
