package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BlockStore, BoundedTopKG}
import graft.operators.CosineTopK

/** The packed gemm path must agree with the declarative (crossJoin +
  * Window) plan bit-for-bit in exact mode — same double accumulation
  * order, same tie-break — on both long and string ids, normalized and
  * cosine scoring (VERDICT r1 next-round #4).
  */
class BlockStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def randVec(rng: java.util.Random, dim: Int) =
    Array.fill(dim)(rng.nextFloat() * 2f - 1f)

  test("pack round-trip: rows and dims survive, normalize applies zero->e0") {
    import spark.implicits._
    val rows = Seq(("a", Array(3f, 4f)), ("b", Array(0f, 0f)), ("c", Array(1f, 0f)))
    val bs = BlockStore.fromDataset(rows.toDS(), normalize = true)
    assert(bs.materialize() == 3)
    val blocks = bs.blocks.collect()
    val byId = blocks.flatMap(b => b.ids.zipWithIndex.map { case (id, r) =>
      id -> b.data.slice(r * b.dim, (r + 1) * b.dim)
    }).toMap
    assert(math.abs(byId("a")(0) - 0.6f) < 1e-6 && math.abs(byId("a")(1) - 0.8f) < 1e-6)
    assert(byId("b").toSeq == Seq(1f, 0f)) // zero -> e0
  }

  test("gemm exact == declarative on string ids, normalized store") {
    import spark.implicits._
    val rng = new java.util.Random(7)
    val dim = 16
    val rows = (0 until 300).map(i => (f"id$i%04d", graft.functions.NormalizeL2.normalize(randVec(rng, dim))))
    val df = rows.toDF("_id_", "_vector_")
    val queries = Array.tabulate(8)(i => (i.toLong, randVec(rng, dim)))

    val qdf = queries.toSeq.toDF("qid", "raw")
      .select(col("qid"), graft.functions.normalize_l2(col("raw")).as("qvec"))
    val dec = CosineTopK.declarative(df, "_id_", "_vector_", qdf, "qid", "qvec",
        k = 5, betterThan = Some(0.1), normalized = true)
      .select("qid", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet

    val bs = BlockStore.fromDataset(df.as[(String, Array[Float])],
      normalize = false, assumeNormalized = true)
    val gem = CosineTopK.gemmBlocksStr(bs, queries, k = 5, betterThan = Some(0.1),
        exact = true)
      .select("qid", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))).toSet

    assert(gem == dec) // bitwise score equality included
  }

  test("gemm exact == declarative on long ids, raw store (cosine mode)") {
    import spark.implicits._
    val rng = new java.util.Random(11)
    val dim = 12
    val rows = (0 until 250).map(i => (i.toLong, randVec(rng, dim)))
    val df = rows.toDF("id", "vec")
    val queries = Array.tabulate(6)(i => (i.toLong, randVec(rng, dim)))

    val qdf = queries.toSeq.toDF("qid", "qvec")
    val dec = CosineTopK.declarative(df, "id", "vec", qdf, "qid", "qvec",
        k = 7, betterThan = None, normalized = false)
      .select("qid", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    val gem = CosineTopK.gemm(df, "id", "vec", queries, k = 7,
        betterThan = None, normalized = false, exact = true)
      .select("qid", "rank", "id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    assert(gem == dec)
  }

  test("fast (SIMD) cosine mode divides by BOTH norms: scores are true cosine") {
    import spark.implicits._
    val rng = new java.util.Random(3)
    val dim = 10
    val rows = (0 until 100).map(i => (i.toLong, randVec(rng, dim)))
    val df = rows.toDF("id", "vec")
    // non-unit queries: scale one up hard so a missing |q| division shows
    val queries = Array.tabulate(4) { i =>
      (i.toLong, randVec(rng, dim).map(_ * (if (i == 0) 50f else 1f)))
    }
    val fast = CosineTopK.gemm(df, "id", "vec", queries, k = 5,
        betterThan = None, normalized = false, exact = false)
      .select("qid", "id", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = CosineTopK.gemm(df, "id", "vec", queries, k = 5,
        betterThan = None, normalized = false, exact = true)
      .select("qid", "id", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(fast.keySet == exact.keySet)
    fast.foreach { case (k0, s) =>
      assert(math.abs(s - exact(k0)) < 1e-4, s"score mismatch at $k0")
      assert(s <= 1.0 + 1e-4) // a cosine, not a scaled dot
    }
  }

  test("BoundedTopKG absorb merges with deterministic tie-break") {
    val a = new BoundedTopKG[String](3)
    val b = new BoundedTopKG[String](3)
    a.offer(1.0, "x"); a.offer(0.5, "y")
    b.offer(1.0, "w"); b.offer(0.9, "z"); b.offer(0.1, "q")
    a.absorb(b)
    val hits = a.sortedHits().toSeq
    assert(hits == Seq(("w", 1.0), ("x", 1.0), ("z", 0.9))) // ties: id asc
  }

  test("partitions split into multiple bounded blocks; results unchanged") {
    import spark.implicits._
    val rng = new java.util.Random(21)
    val dim = 8
    val rows = (0 until 1000).map(i => (i.toLong, randVec(rng, dim)))
    val ds = spark.createDataset(rows).repartition(2)
    // maxBlockFloats forces ~16 rows per block -> ~30+ blocks per partition
    val small = BlockStore.fromDataset(ds, normalize = true, maxBlockFloats = dim * 16)
    val big = BlockStore.fromDataset(ds, normalize = true)
    assert(small.materialize() == 1000 && big.materialize() == 1000)
    assert(small.blocks.count() > big.blocks.count())
    assert(small.blocks.collect().forall(_.rows <= 16))
    val queries = Array.tabulate(3)(i => (i.toLong, randVec(rng, dim)))
    val a = small.topKMerged(queries, k = 7).map(_.toSeq).toSeq
    val b = big.topKMerged(queries, k = 7).map(_.toSeq).toSeq
    assert(a == b)
  }

  test("topKMergedRows ranks like topKMerged and returns each hit's packed row") {
    import spark.implicits._
    val rng = new java.util.Random(31)
    val dim = 8
    val rows = (0 until 600).map { i =>
      (f"id$i%04d", randVec(rng, dim), if (i % 4 == 0) null else s"m$i")
    }
    val source = rows.map(r => r._1 -> r).toMap
    val ds = spark.createDataset(rows).repartition(3)
    // ~20 rows per block: survivors come from many blocks per partition
    val bs = BlockStore.fromMetaDataset(ds, normalize = false,
      assumeNormalized = true, maxBlockFloats = dim * 20)
    val queries = Array.tabulate(9)(i => (i.toLong, randVec(rng, dim)))
    for (exact <- Seq(false, true); k <- Seq(1, 7, 700)) {
      val ranked = bs.topKMerged(queries, k, exact = exact)
      val withRows = bs.topKMergedRows(queries, k, exact = exact)
      assert(withRows.map(_.map(h => (h.id, h.score)).toSeq).toSeq ==
        ranked.map(_.toSeq).toSeq)
      withRows.flatten.foreach { h =>
        val (_, v, m) = source(h.id)
        assert(h.meta == m && h.vector.toSeq == v.toSeq)
      }
    }
    // a pack without meta returns null meta; a threshold can empty a list
    val plain = BlockStore.fromDataset(ds.map(r => (r._1, r._2)),
      normalize = false, assumeNormalized = true)
    val hits = plain.topKMergedRows(queries, 3, betterThan = Some(10.0)) ++
      plain.topKMergedRows(queries, 3)
    assert(hits.take(queries.length).forall(_.isEmpty))
    assert(hits.flatten.nonEmpty && hits.flatten.forall(_.meta == null))
  }

  test("empty store yields empty hit lists") {
    import spark.implicits._
    val df = Seq.empty[(String, Array[Float])].toDS()
    val bs = BlockStore.fromDataset(df, normalize = true)
    val merged = bs.topKMerged(Array((0L, Array(1f, 0f))), k = 3)
    assert(merged.length == 1 && merged.head.isEmpty)
    val withRows = bs.topKMergedRows(Array((0L, Array(1f, 0f))), k = 3)
    assert(withRows.length == 1 && withRows.head.isEmpty)
  }
}
