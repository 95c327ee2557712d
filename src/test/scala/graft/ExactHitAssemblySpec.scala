package graft

import scala.util.Random
import org.apache.spark.TaskContext
import org.apache.spark.sql.{CacheProbe, Column}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BlockStore, GraftConf, VdbHit, VdbRecord, VdbStore}

/** Hit assembly of the exact strategies. The packed scan carries each
  * survivor's meta and vector to the driver with its score, so an exact
  * or exact-filtered `query` answers in one Spark job. These specs pin
  * its answers, bit for bit, to the two-step assembly it replaces:
  * rank the candidate pack, then `get(hitIds, includeVector = true)`
  * and the post-score `whereFn` recheck.
  */
class ExactHitAssemblySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dim = 16

  /** (id, score bits, meta, vector) per hit, per query. */
  private type Canon = Seq[Seq[(String, Long, Option[String], Option[Seq[Float]])]]

  private def canon(hits: Seq[Seq[VdbHit]]): Canon =
    hits.map(_.map(h => (h.id, java.lang.Double.doubleToLongBits(h.metrics),
      h.metaJson, h.vector.map(_.toSeq))))

  private def vec(rng: Random): Array[Float] =
    Array.fill(dim)(rng.nextFloat() * 2 - 1)

  /** 120 records, every fifth without meta; then 10 deleted and 9
    * others updated with a new vector and new meta.
    */
  private def mixedStore(seed: Int): (VdbStore, Seq[String], Seq[String]) = {
    val rng = new Random(seed)
    val s = VdbStore.empty(spark, dim)
    s.upsert((0 until 120).map { i =>
      val meta =
        if (i % 5 == 0) null
        else s"""{"g": "${if (i % 3 == 0) "x" else "y"}", "n": $i}"""
      VdbRecord(f"r$i%03d", vec(rng), meta)
    })
    val deleted = (0 until 10).map(i => f"r${i * 7 + 1}%03d")
    s.delete(deleted)
    val updated = (0 until 10).map(i => f"r${i * 11 + 2}%03d")
      .filterNot(deleted.contains)
    s.upsert(updated.map(id => VdbRecord(id, vec(rng), """{"g": "x", "v": 2}""")))
    (s, deleted, updated)
  }

  /** The assembly the fused scan replaced: restrict the active rows like
    * `query` does, rank their pack with `topKMerged`, fetch the hit rows
    * with `get`, recheck `whereFn` on the driver.
    */
  private def viaGet(
      s: VdbStore,
      vectors: Seq[Array[Float]],
      topK: Int,
      betterThan: Option[Double] = None,
      where: Option[Column] = None,
      ids: Option[Seq[String]] = None,
      whereFn: Option[(String, String) => Boolean] = None): Canon = {
    import spark.implicits._
    var cand = s.active
    ids.foreach(l => cand = cand.filter(col("_id_").isin(l: _*)))
    where.foreach(p => cand = cand.filter(p))
    whereFn.foreach { f =>
      val u = udf((id: String, m: String) => f(id, m))
      cand = cand.filter(u(col("_id_"), col("meta")))
    }
    val pack = BlockStore.fromDataset(
      cand.select(col("_id_"), col("_vector_")).as[(String, Array[Float])],
      normalize = false, assumeNormalized = true)
    val queries = vectors.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toArray
    val ranked = pack.topKMerged(queries, topK, betterThan,
      normalizeQueries = true, exact = new GraftConf(spark).queryExact)
    val rows = s.get(ranked.flatten.map(_._1).distinct.toSeq,
      includeVector = true).map(h => h.id -> h).toMap
    canon(ranked.toSeq.map(_.toSeq.flatMap { case (id, score) =>
      rows.get(id).map(h => VdbHit(id, score, h.metaJson, h.vector))
    }.filter(h => whereFn.forall(f => f(h.id, h.metaJson.orNull)))))
  }

  /** Runs `query`, checks the strategy it reports and that its answer
    * equals [[viaGet]]'s; returns the answer.
    */
  private def parity(
      s: VdbStore,
      strategy: String,
      vectors: Seq[Array[Float]],
      topK: Int,
      betterThan: Option[Double] = None,
      where: Option[Column] = None,
      ids: Option[Seq[String]] = None,
      whereFn: Option[(String, String) => Boolean] = None): Seq[Seq[VdbHit]] = {
    val got = s.query(vectors, topK, betterThan, where, ids, whereFn)
    assert(s.lastQueryStrategy.contains(strategy))
    assert(got.length == vectors.length)
    assert(canon(got) == viaGet(s, vectors, topK, betterThan, where, ids, whereFn),
      s"$strategy answer differs from the get-based assembly")
    got
  }

  for (exact <- Seq(false, true))
  test(s"exact and exact-filtered hits equal the get-based assembly (graft.query.exact=$exact)") {
    spark.conf.set("graft.query.exact", exact.toString)
    try {
      val (s, deleted, updated) = mixedStore(seed = 11)
      val live = s.count().toInt
      val rng = new Random(12)
      val byId = s.getAll(includeVector = true).map(h => h.id -> h).toMap
      val q0 = vec(rng)
      val q1 = byId(updated.head).vector.get
      val q2 = byId("r005").vector.get // a record without meta
      // duplicate query vectors answer independently, each in place
      val qs = Seq(q0, q1, q0, q2, vec(rng), q1)

      val plain = parity(s, "exact", qs, topK = 7)
      val all = plain.flatten
      assert(all.forall(h => !deleted.contains(h.id)), "a tombstone came back")
      assert(plain(0).map(_.id) == plain(2).map(_.id))
      // the updated record answers with its new vector and new meta
      val top = plain(1).head
      assert(top.id == updated.head)
      assert(top.vector.get.toSeq == q1.toSeq)
      assert(top.metaJson.exists(_.contains("\"v\": 2")))
      // a live record with no meta is a hit with metaJson None
      assert(plain(3).head.id == "r005" && plain(3).head.metaJson.isEmpty)

      // a threshold that leaves fewer than k hits
      val thr = parity(s, "exact", qs, topK = 7, betterThan = Some(0.6))
      assert(thr.exists(_.size < 7) && thr(1).nonEmpty)
      // topK beyond the live row count returns every live row
      val wide = parity(s, "exact", qs.take(2), topK = live + 50)
      assert(wide.forall(_.size == live))

      // an id list with missing, tombstoned and updated ids
      val list = Seq("r003", "r004", updated(1), updated(2), "r999", "nope") ++
        deleted.take(3)
      val byIds = parity(s, "exact-filtered", qs, topK = 4, ids = Some(list))
      assert(byIds.forall(_.size == 4))
      assert(byIds.flatten.map(_.id).toSet ==
        Set("r003", "r004", updated(1), updated(2)))
      parity(s, "exact-filtered", qs, topK = 5,
        where = Some(get_json_object(col("meta"), "$.g") === "x"))
      parity(s, "exact-filtered", qs, topK = 5, betterThan = Some(0.2),
        where = Some(get_json_object(col("meta"), "$.g") === "y"))

      // whereFn is re-checked on the driver after scoring: this one
      // passes every row inside tasks and rejects ids ending in 3 on
      // the driver, so those reach the ranking and are dropped after it
      val recheck: (String, String) => Boolean =
        (id, _) => TaskContext.get() != null || !id.endsWith("3")
      val rechecked = parity(s, "exact-filtered", qs, topK = live,
        whereFn = Some(recheck))
      val endsIn3 = s.getAll().count(_.id.endsWith("3"))
      assert(endsIn3 > 0)
      assert(rechecked.forall(_.size == live - endsIn3))

      // an empty store answers every query with no hits
      val empty = VdbStore.empty(spark, dim)
      assert(parity(empty, "exact", qs, topK = 3).forall(_.isEmpty))
      assert(parity(empty, "exact-filtered", qs, topK = 3,
        ids = Some(Seq("r003"))).forall(_.isEmpty))
      s.releaseCaches()
    } finally spark.conf.unset("graft.query.exact")
  }

  test("an exact or exact-filtered query runs exactly one Spark job") {
    val (s, _, _) = mixedStore(seed = 21)
    val rng = new Random(22)
    val qs = Seq.fill(5)(vec(rng))
    val sc = spark.sparkContext
    // jobs per job group: each measured call runs under its own group,
    // so a late event from an earlier call can never be counted
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
    def jobsOf(call: => Unit): Int = {
      calls += 1
      val group = s"exact-hit-assembly-$calls"
      sc.setJobGroup(group, group)
      try call finally sc.clearJobGroup()
      // listener delivery is async: wait for the call's jobs to surface
      val deadline = System.nanoTime() + 10000000000L
      while (!jobs.containsKey(group) && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
      jobs.getOrDefault(group, 0)
    }
    s.query(qs, topK = 5) // builds the store-version-cached pack
    sc.addSparkListener(listener)
    try {
      assert(jobsOf(s.query(qs, topK = 5)) == 1)
      assert(s.lastQueryStrategy.contains("exact"))
      val whereX = Some(get_json_object(col("meta"), "$.g") === "x")
      assert(jobsOf(s.query(qs, topK = 5, where = whereX)) == 1)
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      assert(jobsOf(s.query(qs, topK = 5, ids = Some(Seq("r003", "r010")))) == 1)
    } finally {
      sc.removeSparkListener(listener)
      s.releaseCaches()
    }
  }

  test("queryDF bloom rung releases the refill-qid pin when its materialization throws") {
    // the refill-qid frame is persisted right before its RDD-level
    // count; a failure of that count must not leave its CacheManager
    // entry behind. The whereFn below counts its evaluations of one
    // record; a dry run learns how many one call makes, and the real
    // run throws at the last one, which falls in that count's job (the
    // call's last pass over the candidate rows when nothing refills).
    val s = VdbStore.empty(spark, 8)
    s.upsert(TestFixtures.twoClusterRecs(seed = 71))
    import spark.implicits._
    val qdf = Seq((0L, { val v = new Array[Float](8); v(4) = 1f; v }))
      .toDF("qid", "qvec")
    val whereFn: (String, String) => Boolean = (id, meta) => {
      if (id == "b000" &&
          ExactHitAssemblySpec.evaluations.incrementAndGet() >=
            ExactHitAssemblySpec.failAt)
        throw new IllegalStateException("planted refill-count failure")
      meta != null && meta.contains("\"b\"")
    }
    spark.conf.set("graft.ann.filtered", "true")
    spark.conf.set("graft.ann.filtered.max", "2") // both sets overflow -> bloom
    spark.conf.set("graft.ann.filtered.bloom.fpp", "0.3")
    s.enableAnn(nList = 4)
    try {
      ExactHitAssemblySpec.failAt = Int.MaxValue
      ExactHitAssemblySpec.evaluations.set(0)
      s.queryDF(qdf, "qid", "qvec", 5, whereFn = Some(whereFn), nProbe = 4)
        .collect()
      assert(s.lastQueryStrategy.contains("ann-filtered+bloom"),
        s"fixture must exercise the bloom rung, routed ${s.lastQueryStrategy}")
      assert(s.lastBloomRefillCount == 0,
        "the dry run must not refill, or the refill scan is the last pass")
      val perCall = ExactHitAssemblySpec.evaluations.get()
      assert(perCall > 0)

      val baseline = CacheProbe.entries(spark)
      ExactHitAssemblySpec.failAt = perCall
      ExactHitAssemblySpec.evaluations.set(0)
      val err = intercept[Exception] {
        s.queryDF(qdf, "qid", "qvec", 5, whereFn = Some(whereFn), nProbe = 4)
          .collect()
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("planted refill-count failure"))))
      assert(CacheProbe.entries(spark) == baseline,
        "a failed bloom call left a pinned frame in the CacheManager")
    } finally {
      ExactHitAssemblySpec.failAt = Int.MaxValue
      Seq("graft.ann.filtered", "graft.ann.filtered.max",
        "graft.ann.filtered.bloom.fpp").foreach(spark.conf.unset)
      s.disableAnn()
      s.releaseCaches()
    }
  }
}

/** Driver-JVM state for the planted failure: task closures are
  * serialized copies, so the counter must live in a static object.
  */
object ExactHitAssemblySpec {
  val evaluations = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var failAt: Int = Int.MaxValue
}
