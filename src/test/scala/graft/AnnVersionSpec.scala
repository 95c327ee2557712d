package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{VdbRecord, VdbStore}

/** The IVF index a query reads is tagged with the store version it was
  * built from, so a write that lands during its build is seen by the
  * next query, and concurrent first queries of a version build it once.
  */
class AnnVersionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dim = 8

  private def unit(axis: Int): Array[Float] = {
    val v = new Array[Float](dim); v(axis) = 1f; v
  }

  private def store(): VdbStore = {
    val s = VdbStore.empty(spark, dim)
    s.upsert(TestFixtures.twoClusterRecs(seed = 43, dim = dim, perCluster = 20))
    s.enableAnn(nList = 4)
    s
  }

  test("a write that lands while the IVF index builds is seen by the next query") {
    val s = store()
    // a row exactly on axis 2, where no stored row lies
    val probe = unit(2)
    var fired = false
    s.annBuiltHook = () =>
      if (!fired) {
        fired = true
        s.upsert(Seq(VdbRecord("late", probe, """{"c": "late"}""")))
      }
    try s.query(Seq(probe), topK = 1, nProbe = 4)
    finally s.annBuiltHook = () => ()
    assert(fired)
    val hits = s.query(Seq(probe), topK = 1, nProbe = 4)
    assert(s.lastQueryStrategy.contains("ann"))
    assert(hits.head.map(_.id) == Seq("late"))
    assert(s.annInfo.upToDate)
    s.releaseCaches()
  }

  test("two concurrent first queries build the IVF index once") {
    val s = store()
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    s.annBuiltHook = () =>
      if (builds.incrementAndGet() == 1) gate.await(60, TimeUnit.SECONDS)
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    def reader(): Thread = new Thread(() => {
      answers.add(s.query(Seq(unit(0)), topK = 3, nProbe = 4).head.map(_.id))
      ()
    })
    val first = reader()
    try {
      first.start()
      val deadline = System.nanoTime() + 60000000000L
      while (builds.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(builds.get == 1, "the first query never reached the index build")
      val second = reader()
      second.start()
      // the second query either waits on a lock the first one holds,
      // or builds an index of its own
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
      assert(s.lastQueryStrategy.contains("ann"))
    } finally {
      gate.countDown()
      s.annBuiltHook = () => ()
      s.releaseCaches()
    }
  }
}
