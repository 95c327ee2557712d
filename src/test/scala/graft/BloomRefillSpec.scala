package graft

import org.apache.spark.sql.functions.{col, get_json_object}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.VdbStore

/** The bloom rung of `queryDF` refills underfilled queries from the
  * exact filtered scan. The refill's packed query blocks are released
  * inside the call, with the call's other intermediates, once its
  * result is materialized: repeated refilling calls leave the count of
  * persisted RDDs where it stood after the first.
  */
class BloomRefillSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a queryDF call that refills leaves the persisted-RDD count where it started") {
    val dim = 8
    val s = VdbStore.empty(spark, dim)
    s.upsert(TestFixtures.twoClusterRecs(seed = 67, dim = dim))
    val ss = spark
    import ss.implicits._
    val qdf = (0 until 6).map { i =>
      val v = new Array[Float](dim); v(i % 2 * 4) = 1f; v((i + 1) % dim) += 0.3f
      (i.toLong, v)
    }.toDF("qid", "qvec")
    val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
    val confs = Map(
      "graft.ann.filtered" -> "true",
      "graft.ann.filtered.max" -> "2", // both id sets overflow: bloom rung
      // a loose filter and no over-fetch, so verification underfills
      "graft.ann.filtered.bloom.fpp" -> "0.4",
      "graft.ann.filtered.bloom.overfetch" -> "1")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    s.enableAnn(nList = 4)
    val sc = spark.sparkContext
    try {
      def call(): Int = {
        val rows = s.queryDF(qdf, "qid", "qvec", 5, where = whereB, nProbe = 4).collect()
        assert(rows.length == 30)
        assert(s.lastQueryStrategy.exists(_.endsWith("+bloom")), s"${s.lastQueryStrategy}")
        assert(s.lastBloomRefillCount > 0, "the call refilled no query")
        sc.getPersistentRDDs.size
      }
      val held = (1 to 4).map(_ => call())
      assert(held.distinct.length == 1, s"persisted RDDs after each call: $held")
    } finally {
      confs.keys.foreach(spark.conf.unset)
      s.releaseCaches()
    }
  }
}
