package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.HnswStore

/** A graph store's q8 codes are built outside the lock that retiring
  * the store takes: a refresh that supersedes a store, which it does
  * while holding the vector store's graph lock, never waits for a codes
  * build still running on the old store, and codes finished for a store
  * already freed are not left cached.
  */
class HnswQ8LockSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("retiring a store does not wait for its q8 codes' build") {
    val ss = spark
    import ss.implicits._
    val rng = new scala.util.Random(5)
    val data = (0 until 400).map(i => (i.toLong, Array.fill(16)(rng.nextFloat() - 0.5f)))
    val store = HnswStore.fromDataset[Long](data.toDS(), normalize = false,
      numShards = 4).persist()
    store.materialize()
    val sc = spark.sparkContext
    def codes: Set[Int] = sc.getPersistentRDDs.values
      .filter(_.name == "graft.hnsw.q8shards").map(_.id).toSet
    val codesBefore = codes
    val entered = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    store.q8BuiltHook = () => { entered.countDown(); gate.await(60, TimeUnit.SECONDS); () }
    val member = graft.core.SetMember(data.map(_._1).filter(_ % 2 == 0).toArray)
    val builder = new Thread(() => {
      store.searchMergedMemberQ8(data.take(2).toArray, 3, member, deny = false)
      ()
    })
    val retirer = new Thread(() => store.retire())
    try {
      builder.start()
      assert(entered.await(60, TimeUnit.SECONDS), "the codes' build never ran")
      retirer.start()
      // the retire either returns or waits on a lock the builder holds
      val mx = java.lang.management.ManagementFactory.getThreadMXBean
      def waitsOnBuilder: Boolean =
        Option(mx.getThreadInfo(retirer.getId)).exists(_.getLockOwnerId == builder.getId)
      val deadline = System.nanoTime() + 60000000000L
      while (retirer.isAlive && !waitsOnBuilder && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(!retirer.isAlive, "retire waited for the q8 codes' build")
    } finally {
      gate.countDown()
      builder.join(60000)
      retirer.join(60000)
      store.q8BuiltHook = () => ()
    }
    assert(codes == codesBefore, "codes built for a freed store stay cached")
    store.unpersist()
  }
}
