package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{VdbRecord, VdbStore}

/** The incremental HNSW refresh reads the rows it inserts from the
  * cached pack of the version it refreshes: with the pack built, it
  * plans no SQL query, and the broadcast of its touched ids is gone
  * once the new shards are materialized. A pack the refresh has to
  * build is timed apart from the refresh.
  */
class PackedRefreshSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dim = 8

  private def unit(axis: Int): Array[Float] = {
    val v = new Array[Float](dim); v(axis) = 1f; v
  }

  private def store(): VdbStore = {
    val s = VdbStore.empty(spark, dim)
    s.upsert(TestFixtures.twoClusterRecs(seed = 47, dim = dim, perCluster = 30))
    s.enableHnsw(m = 8, efConstruction = 40)
    s.query(Seq(unit(0)), topK = 3) // the full build
    s
  }

  private val written = Seq("a003", "b011", "fresh1", "fresh2")

  private def write(s: VdbStore): Unit = {
    s.upsert(written.zipWithIndex.map { case (id, i) =>
      VdbRecord(id, unit(1 + i), s"""{"c": "w$i"}""")
    })
    assert(s.delete(Seq("a020", "never")) == Seq("a020"))
  }

  /** Spark jobs and SQL executions of one call: jobs by the call's own
    * job group; SQL executions both by a session
    * `QueryExecutionListener` and by their start events.
    */
  private final class Work {
    private val sc = spark.sparkContext
    private val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private val sql = new AtomicInteger
    private val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.merge(g, 1, (a: Integer, b: Integer) => a + b))
        ()
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            sql.incrementAndGet(); ()
          case _ => ()
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
      sc.addSparkListener(listener)
      spark.listenerManager.register(sqlListener)
    }

    def close(): Unit = {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(sqlListener)
    }

    /** (Spark jobs, SQL executions) of `call`. */
    def of(call: => Unit): (Int, Int) = {
      Thread.sleep(500) // let earlier calls' events arrive first
      calls += 1
      val group = s"packed-refresh-$calls"
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

  test("a warm incremental refresh plans no SQL query and runs two jobs") {
    val s = store()
    val qs = Seq(unit(1), unit(4))
    val work = new Work
    work.open()
    try {
      // the counter sees a Dataset action
      assert(work.of(s.df.count())._2 >= 1)
      write(s)
      s.get(Seq("a001")) // builds the pack of the new version
      val refreshed = s.lastTimings("pack")
      val (jobs, sql) = work.of(s.query(qs, topK = 3))
      assert(s.hnswLastRebuildMode == "incremental")
      assert(s.lastTimings("pack") == refreshed, "the refresh built a pack")
      val (warmJobs, warmSql) = work.of(s.query(qs, topK = 3))
      assert(sql == warmSql, s"the refresh ran ${sql - warmSql} SQL executions")
      // the touched nodes' lookup, and the shard update with its
      // materialize
      assert(jobs - warmJobs == 2, s"the refresh ran ${jobs - warmJobs} jobs")
    } finally {
      work.close()
      s.releaseCaches()
    }
  }

  test("a refresh leaves no broadcast of its touched ids behind") {
    val s = store()
    try {
      write(s)
      s.get(Seq("a001"))
      val hits = s.query(Seq(unit(1)), topK = 1)
      assert(s.hnswLastRebuildMode == "incremental")
      assert(hits.head.map(_.id) == Seq("a003"))
      val touched: Set[Any] = (written :+ "a020").toSet
      val left = org.apache.spark.BroadcastProbe.liveValues().filter {
        case ids: scala.collection.Set[_] => ids.exists(touched.contains(_: Any))
        case m: scala.collection.Map[_, _] => m.keys.exists(touched.contains(_: Any))
        case _ => false
      }
      assert(left.isEmpty, s"live broadcasts of the touched ids: $left")
    } finally s.releaseCaches()
  }

  test("a refresh that packs the store times the pack apart") {
    val s = store()
    try {
      write(s)
      val before = s.lastTimings
      s.query(Seq(unit(1)), topK = 1)
      assert(s.hnswLastRebuildMode == "incremental")
      assert(s.lastTimings.get("pack") != before.get("pack"))
      assert(s.lastTimings.get("hnsw_refresh") != before.get("hnsw_refresh"))
    } finally s.releaseCaches()
  }
}
