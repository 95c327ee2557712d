package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.BoundedTopKG
import graft.functions.{Float32LEBytes, NormalizeL2}
import graft.operators.LocalKMeans

/** ScalaCheck property sweeps (SURVEY §5): normalize invariants, heap
  * vs sort-reference top-k, byte-packing round trip, k-means
  * determinism. Pure-JVM properties — the distributed twins are covered
  * by the behavioral specs.
  */
class PropertySpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.choose(1, 64).flatMap(n =>
      Gen.containerOfN[Array, Float](n, Gen.chooseNum(-100f, 100f)))

  test("normalize: unit norm, or e0 for the zero vector (test_task5 sweep)") {
    check(Prop.forAll(vecGen) { v =>
      val out = NormalizeL2.normalize(v)
      val norm = math.sqrt(out.map(x => x.toDouble * x).sum)
      val isZero = v.forall(_ == 0f)
      if (isZero) out(0) == 1f && out.drop(1).forall(_ == 0f)
      else math.abs(norm - 1.0) < 1e-5
    })
  }

  test("normalize is idempotent within float tolerance") {
    check(Prop.forAll(vecGen) { v =>
      val once = NormalizeL2.normalize(v)
      val twice = NormalizeL2.normalize(once)
      once.zip(twice).forall { case (a, b) => math.abs(a - b) < 1e-6 }
    })
  }

  test("BoundedTopKG equals sort-based top-k with the tie-break ordering") {
    val entries = Gen.listOf(Gen.zip(Gen.chooseNum(-1.0, 1.0), Gen.chooseNum(0L, 50L)))
    val kGen = Gen.choose(1, 12)
    check(Prop.forAll(entries, kGen) { (es, k) =>
      val heap = new BoundedTopKG[Long](k)
      es.foreach { case (s, id) => heap.offer(s, id) }
      val got = heap.sortedHits().toSeq
      val want = es.map { case (s, id) => (id, s) }
        .sortBy { case (id, s) => (-s, id) }.take(k)
      got == want
    })
  }

  test("float32 LE byte packing round-trips (numpy tobytes layout)") {
    check(Prop.forAll(vecGen) { v =>
      val bytes = Float32LEBytes.pack(v)
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val back = Array.fill(v.length)(bb.getFloat())
      bytes.length == v.length * 4 &&
        back.zip(v).forall { case (a, b) => a == b || (a.isNaN && b.isNaN) }
    })
  }

  test("NearestCentroid.nearest equals the plain argmax of inner products") {
    val caseGen = for {
      dim <- Gen.choose(1, 16)
      k <- Gen.choose(1, 8)
      cents <- Gen.containerOfN[Array, Array[Double]](k,
        Gen.containerOfN[Array, Double](dim, Gen.chooseNum(-1.0, 1.0)))
      v <- Gen.containerOfN[Array, Float](dim, Gen.chooseNum(-1f, 1f))
    } yield (dim, cents, v)
    check(Prop.forAll(caseGen) { case (dim, cents, v) =>
      val flat = cents.flatten
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)
      val got = graft.functions.NearestCentroid.nearest(arr, flat, dim, isFloat = true)
      val scores = cents.map(c => c.zip(v).map { case (a, b) => a * b.toDouble }.sum)
      // first index achieving the max (ties break to the lower index)
      val want = scores.zipWithIndex.foldLeft((Double.NegativeInfinity, 0)) {
        case ((bs, bi), (s, i)) => if (s > bs) (s, i) else (bs, bi)
      }._2
      got == want
    })
  }

  test("NearestCentroids.topN: element 0 == nearest; NaN rows degrade to id order") {
    val caseGen = for {
      dim <- Gen.choose(1, 16)
      k <- Gen.choose(1, 8)
      n <- Gen.choose(1, 8)
      cents <- Gen.containerOfN[Array, Array[Double]](k,
        Gen.containerOfN[Array, Double](dim, Gen.chooseNum(-1.0, 1.0)))
      v <- Gen.containerOfN[Array, Float](dim, Gen.chooseNum(-1f, 1f))
    } yield (dim, cents, v, n)
    check(Prop.forAll(caseGen) { case (dim, cents, v, n) =>
      val flat = cents.flatten
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)
      val got = graft.functions.NearestCentroids
        .topN(arr, flat, dim, isFloat = true, n).toIntArray()
      val one = graft.functions.NearestCentroid.nearest(arr, flat, dim, isFloat = true)
      got.length == math.min(n, cents.length) &&
        got(0) == one && got.distinct.length == got.length
    })
    // corrupt all-NaN vector: no crash, id-order assignment, matches
    // NearestCentroid's best=0 default on element 0
    val nanArr = org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(Array(Float.NaN, Float.NaN))
    val flat = Array(1.0, 0.0, 0.0, 1.0, 0.5, 0.5)
    val got = graft.functions.NearestCentroids
      .topN(nanArr, flat, 2, isFloat = true, 2).toIntArray()
    assert(got.sameElements(Array(0, 1)))
    assert(graft.functions.NearestCentroid.nearest(nanArr, flat, 2, isFloat = true) == 0)
  }

  test("SimHash64 matches a direct md5 bit-vote reimplementation") {
    val tokensGen = Gen.listOf(Gen.alphaNumStr.map(_.take(12)))
    check(Prop.forAll(tokensGen) { tokens =>
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        tokens.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
      val got = graft.functions.SimHash64.compute(arr).toString
      // reference formulation: hex-digit nibble walk over the md5 hex string
      val votes = new Array[Int](64)
      tokens.foreach { t =>
        val hexStr = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        (0 until 64).foreach { j =>
          val nib = Integer.parseInt(hexStr.charAt(j / 4).toString, 16)
          votes(j) += 2 * ((nib >> (3 - j % 4)) & 1) - 1
        }
      }
      got == votes.map(s => if (s > 0) '1' else '0').mkString
    })
  }

  test("WinnowFps matches a direct sliding-min reimplementation") {
    val caseGen = for {
      tokens <- Gen.listOfN(20, Gen.oneOf("alpha", "beta", "gamma", "delta", "x"))
      n <- Gen.choose(1, 3)
      w <- Gen.choose(1, 4)
    } yield (tokens, n, w)
    check(Prop.forAll(caseGen) { case (tokens, n, w) =>
      if (tokens.size < n + w - 1) true
      else {
        val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          tokens.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
        val got = graft.functions.WinnowFps.compute(arr, n, w)
          .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toSeq
        def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        val hashes = tokens.sliding(n).map(g => md5hex(g.mkString(" "))).toSeq
        val want = hashes.sliding(w).map(_.min).toSeq.distinct.sorted
        got == want
      }
    })
  }

  test("IvfIndex.probeIds agrees with NearestCentroids.topN bucket-for-bucket") {
    // the codegen NearestCentroids (`nearest_centroids`) and the
    // driver-side probeIds the IVF searches use must rank buckets
    // alike — if their inner-product order or tie rule ever diverged,
    // the two would pick DIFFERENT buckets for the same vector, and
    // only unlucky data would show it
    val caseGen = for {
      dim <- Gen.choose(1, 16)
      k <- Gen.choose(1, 8)
      np <- Gen.choose(1, 8)
      cents <- Gen.containerOfN[Array, Array[Double]](k,
        Gen.containerOfN[Array, Double](dim, Gen.chooseNum(-1.0, 1.0)))
      v <- Gen.containerOfN[Array, Float](dim, Gen.chooseNum(-1f, 1f))
    } yield (cents, v, np)
    check(Prop.forAll(caseGen) { case (cents, v, np) =>
      val dim = cents(0).length
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v)
      val want = graft.functions.NearestCentroids
        .topN(arr, cents.flatten, dim, isFloat = true, math.min(np, cents.length))
        .toIntArray().toSeq
      graft.operators.IvfIndex.probeIds(cents, v, np).toSeq == want
    })
  }

  test("LocalKMeans is deterministic for a fixed seed and returns k centers") {
    val sampleGen = for {
      n <- Gen.choose(5, 60)
      dim <- Gen.choose(2, 8)
      data <- Gen.containerOfN[Array, Array[Double]](n,
        Gen.containerOfN[Array, Double](dim, Gen.chooseNum(-1.0, 1.0)))
    } yield data
    check(Prop.forAll(sampleGen, Gen.choose(1, 6)) { (sample, k) =>
      val a = LocalKMeans.fit(sample, k, maxIter = 5, seed = 11L)
      val b = LocalKMeans.fit(sample, k, maxIter = 5, seed = 11L)
      a.length == math.min(k, sample.length) &&
        a.zip(b).forall { case (x, y) => x.sameElements(y) }
    })
  }
}
