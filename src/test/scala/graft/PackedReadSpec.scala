package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{VdbRecord, VdbStore}

/** The store-version-cached pack that `get`, the exact strategies and
  * their `ids` restriction read: it is tagged with the version it was
  * built from, so a write that lands during its build never leaves
  * stale rows cached under the new version, and concurrent first
  * readers build it once. A warm `get` and a warm `ids`-only exact
  * query each run one Spark job and no SQL execution, and the exact
  * `queryDF` strategy releases each call's packed query blocks at its
  * next call.
  */
class PackedReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dim = 8

  private def unit(axis: Int): Array[Float] = {
    val v = new Array[Float](dim); v(axis) = 1f; v
  }

  private def store(): VdbStore = {
    val s = VdbStore.empty(spark, dim)
    s.upsert(TestFixtures.twoClusterRecs(seed = 41, dim = dim, perCluster = 20))
    s
  }

  test("a write that lands while the pack builds is seen by the next read") {
    val s = store()
    // a row exactly on axis 2, where no stored row lies
    val probe = unit(2)
    var fired = false
    s.packBuiltHook = () =>
      if (!fired) {
        fired = true
        s.upsert(Seq(VdbRecord("late", probe, """{"c": "late"}""")))
      }
    try s.query(Seq(probe), topK = 1)
    finally s.packBuiltHook = () => ()
    assert(fired)
    assert(s.query(Seq(probe), topK = 1).head.map(_.id) == Seq("late"))
    assert(s.query(Seq(probe), topK = 1, ids = Some(Seq("late", "a000")))
      .head.map(_.id) == Seq("late"))
    assert(s.get(Seq("late")).map(_.id) == Seq("late"))
    s.releaseCaches()
  }

  test("two concurrent first reads build the pack once") {
    val s = store()
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    s.packBuiltHook = () =>
      if (builds.incrementAndGet() == 1) gate.await(60, TimeUnit.SECONDS)
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    def reader(): Thread = new Thread(() => {
      answers.add(s.query(Seq(unit(0)), topK = 3).head.map(_.id))
      ()
    })
    val first = reader()
    try {
      first.start()
      val deadline = System.nanoTime() + 60000000000L
      while (builds.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(builds.get == 1, "the first reader never reached the pack build")
      val second = reader()
      second.start()
      // the second reader either waits on a lock the first one holds,
      // or builds a second pack of its own
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      def waitsOnFirst: Boolean =
        Option(mx.getThreadInfo(second.getId)).exists(_.getLockOwnerId == first.getId)
      while (builds.get < 2 && !waitsOnFirst && System.nanoTime() < deadline)
        Thread.sleep(10)
      gate.countDown()
      first.join(60000)
      second.join(60000)
      assert(builds.get == 1)
      assert(answers.size == 2)
      assert(answers.toArray.distinct.length == 1)
    } finally {
      gate.countDown()
      s.packBuiltHook = () => ()
      s.releaseCaches()
    }
  }

  /** Spark jobs and SQL executions of one call: jobs by the call's own
    * job group, SQL executions by a session `QueryExecutionListener`.
    */
  private final class Work {
    private val sc = spark.sparkContext
    private val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private val sql = new AtomicInteger
    private val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
        ()
      }
    }
    private val sqlListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        sql.incrementAndGet(); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = {
        sql.incrementAndGet(); ()
      }
    }
    private var calls = 0

    def open(): Unit = {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(sqlListener)
    }

    def close(): Unit = {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(sqlListener)
    }

    /** (Spark jobs, SQL executions) of `call`. */
    def of(call: => Unit): (Int, Int) = {
      Thread.sleep(500) // let earlier calls' events arrive first
      calls += 1
      val group = s"packed-read-$calls"
      val sql0 = sql.get
      sc.setJobGroup(group, group)
      try call finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!jobs.containsKey(group) && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
      (jobs.getOrDefault(group, 0), sql.get - sql0)
    }
  }

  test("a warm get and a warm ids-only exact query each run one Spark job and no SQL execution") {
    val s = store()
    val qs = Seq(unit(0), unit(4), unit(2))
    val few = Seq("a003", "b010", "nope", "a003")
    val many = (0 until 20).map(i => f"a$i%03d") ++
      (0 until VdbStore.InListMax).map(i => s"missing$i")
    s.get(few) // builds the pack
    val work = new Work
    work.open()
    try {
      // the counter sees a Dataset action
      assert(work.of(s.df.count())._2 >= 1)
      assert(work.of(s.get(few)) == ((1, 0)))
      assert(work.of(s.get(few, includeVector = true)) == ((1, 0)))
      assert(work.of(s.get(many, includeVector = true)) == ((1, 0)))
      assert(work.of(s.query(qs, topK = 3, ids = Some(few))) == ((1, 0)))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      assert(work.of(s.query(qs, topK = 3, ids = Some(many), betterThan = Some(0.5))) == ((1, 0)))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      // an empty request reads nothing
      assert(work.of(s.get(Nil)) == ((0, 0)))
    } finally {
      work.close()
      s.releaseCaches()
    }
  }

  test("exact queryDF calls hold one call's packed query blocks") {
    val s = store()
    val ss = spark
    import ss.implicits._
    val frame = (0 until 12).map(i => (i.toLong, unit(i % dim))).toDF("qid", "qvec")
    val sc = spark.sparkContext
    try {
      val persisted = (1 to 3).map { _ =>
        val rows = s.queryDF(frame, "qid", "qvec", topK = 3).collect()
        assert(rows.length == 36)
        assert(s.lastQueryStrategy.contains("exact"))
        assert(s.exactBulkHeldCount == 1)
        sc.getPersistentRDDs.size
      }
      assert(persisted.distinct.length == 1, s"persisted RDDs after each call: $persisted")
      s.queryDF(frame, "qid", "qvec", topK = 3, ids = Some(Seq("a001", "b002"))).collect()
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      assert(s.exactBulkHeldCount == 1)
      assert(sc.getPersistentRDDs.size == persisted.head)
    } finally s.releaseCaches()
    assert(s.exactBulkHeldCount == 0)
  }
}
