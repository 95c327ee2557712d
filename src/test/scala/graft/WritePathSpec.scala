package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{VdbRecord, VdbStore}

/** The write path's cost and lifetime: a warm write runs a bounded
  * number of Spark jobs and no SQL execution, `count` and `capacity`
  * run one job each, and a frame handed out before a run of writes
  * still reads its own rows after them.
  */
class WritePathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dim = 8

  private def rec(id: String, seed: Int, meta: String = null): VdbRecord = {
    val rng = new scala.util.Random(seed)
    VdbRecord(id, Array.fill(dim)(rng.nextFloat() - 0.5f), meta)
  }

  private def store(n: Int): VdbStore = {
    val s = VdbStore.empty(spark, dim)
    s.upsert((0 until n).map(i => rec(f"r$i%04d", i, s"""{"i": $i}""")))
    s
  }

  /** Spark jobs of one call, by the call's job group; SQL executions by
    * a session `QueryExecutionListener` and by the jobs that carry a SQL
    * execution id.
    */
  private final class Work {
    private val sc = spark.sparkContext
    private val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private val sqlJobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    private val sql = new AtomicInteger
    private val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        Option(j.properties).foreach { p =>
          Option(p.getProperty("spark.jobGroup.id")).foreach { g =>
            jobs.merge(g, 1, (a: Integer, b: Integer) => a + b)
            if (p.getProperty("spark.sql.execution.id") != null)
              sqlJobs.merge(g, 1, (a: Integer, b: Integer) => a + b)
          }
        }
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
      val group = s"write-path-$calls"
      val sql0 = sql.get
      sc.setJobGroup(group, group)
      try call finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!jobs.containsKey(group) && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
      (jobs.getOrDefault(group, 0),
        sql.get - sql0 + sqlJobs.getOrDefault(group, 0))
    }
  }

  test("warm writes and counts run a few Spark jobs and no SQL execution") {
    val s = store(300)
    val work = new Work
    work.open()
    try {
      // the counter sees a Dataset action and its job
      assert(work.of(s.df.count())._2 >= 1)
      // warm each call once
      s.upsert(Seq(rec("r0001", 901), rec("w000", 902)))
      s.delete(Seq("r0002", "nope"))
      s.vacuum()
      s.count()
      s.capacity()
      // an update, an insert onto a tombstone and a fresh insert
      s.delete(Seq("r0003"))
      val (upJobs, upSql) = work.of(s.upsert(Seq(rec("r0004", 903, "{}"),
        rec("w001", 904), rec("w002", 905), rec(null, 906))))
      assert(upJobs <= 3, s"upsert ran $upJobs jobs")
      assert(upSql == 0, s"upsert ran $upSql SQL executions")
      val (delJobs, delSql) = work.of(s.delete(Seq("r0005", "r0006", "r0003", "nope")))
      assert(delJobs <= 2, s"delete ran $delJobs jobs")
      assert(delSql == 0, s"delete ran $delSql SQL executions")
      val (vacJobs, vacSql) = work.of(s.vacuum())
      assert(vacJobs <= 1, s"vacuum ran $vacJobs jobs")
      assert(vacSql == 0, s"vacuum ran $vacSql SQL executions")
      assert(work.of(s.count()) == ((1, 0)))
      assert(work.of(s.capacity()) == ((1, 0)))
      assert(s.count() == 300 && s.capacity() == 300)
    } finally {
      work.close()
      s.releaseCaches()
    }
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select("_id_", "meta", "deleted", "_vector_").collect().map { r =>
      val bits = Option(r.getSeq[Float](3)).map(_.map(f =>
        java.lang.Float.floatToRawIntBits(f).toHexString).mkString(",")).getOrElse("-")
      s"${r.getString(0)}|${r.getString(1)}|${r.getBoolean(2)}|$bits"
    }.toSeq.sorted

  test("a frame taken before 20 writes and a checkpoint still reads its rows") {
    val s = store(60) // mutation 1
    val before = s.df
    val want = rowsOf(before)
    var atCheckpoint: (DataFrame, Seq[String]) = null
    (2 to 21).foreach { m =>
      m % 4 match {
        case 0 => s.delete(Seq(f"r${m * 2}%04d", f"r${m * 2 + 1}%04d"))
        case 1 => s.vacuum()
        case _ => s.upsert(Seq(rec(f"r$m%04d", 500 + m, s"""{"u": $m}"""),
          rec(s"n$m", 600 + m), rec(null, 700 + m)))
      }
      // the 16th mutation cuts the lineage with a local checkpoint
      if (m == 16) atCheckpoint = (s.df, rowsOf(s.df))
    }
    assert(rowsOf(s.df) != want, "the writes changed nothing")
    assert(rowsOf(before) == want, "a frame from before the writes reads other rows")
    assert(rowsOf(atCheckpoint._1) == atCheckpoint._2,
      "the checkpointed frame reads other rows")
    // a superseded checkpoint's blocks stay until its frames are
    // collected; free them here so no later spec sees them go
    atCheckpoint._1.queryExecution.logical.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
    s.releaseCaches()
  }

  test("a written snapshot's leaf carries a size estimate") {
    val s = store(40)
    def leafSize: BigInt = s.df.queryExecution.logical.stats.sizeInBytes
    s.delete(Seq("r0001"))
    assert(leafSize < Long.MaxValue, "delete")
    s.upsert(Seq(rec("x", 1)))
    assert(leafSize < Long.MaxValue, "upsert")
    s.vacuum()
    assert(leafSize < Long.MaxValue, "vacuum")
    s.releaseCaches()
  }
}
