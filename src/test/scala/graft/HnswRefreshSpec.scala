package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{VdbHit, VdbRecord, VdbStore}
import graft.functions.NormalizeL2

/** The incremental HNSW refresh (`VdbStore.refreshHnsw`): after each
  * write the next graph query tombstones the touched nodes and inserts
  * their current rows. Its answers are pinned, bit for bit, over a
  * write sequence that covers updates, new and content-hash ids,
  * deletes (of never-existing ids too), an id deleted and re-upserted
  * within one delta, and a vacuum-only delta. The lock-order test forces
  * a graph refresh to start while a first reader of the same version is
  * inside the pack's build lock.
  */
class HnswRefreshSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dim = 16

  /** Unit vectors around `centres` random centres, with jitter. */
  private def vecs(n: Int, seed: Int, centres: Int = 6): Seq[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    val cs = Array.fill(centres)(Array.fill(dim)(rng.nextGaussian().toFloat))
    (0 until n).map { i =>
      val c = cs(i % centres)
      val v = c.map(x => x + rng.nextGaussian().toFloat * 0.35f)
      val nr = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / nr).toFloat)
    }
  }

  private def recs(prefix: String, n: Int, seed: Int): Seq[VdbRecord] =
    vecs(n, seed).zipWithIndex.map { case (v, i) =>
      VdbRecord(f"$prefix$i%03d", v, s"""{"n": $i, "p": "$prefix"}""")
    }

  private val queries: Seq[Array[Float]] = vecs(6, seed = 99)

  /** Ids, order, raw score bits and meta of every hit, one line each. */
  private def rows(res: Seq[Seq[VdbHit]]): Seq[String] =
    res.zipWithIndex.flatMap { case (hits, q) =>
      hits.zipWithIndex.map { case (h, r) =>
        s"$q,$r,${h.id},${java.lang.Double.doubleToRawLongBits(h.metrics)}," +
          h.metaJson.getOrElse("null")
      }
    }

  /** SHA-256 of the rows, first 16 hex digits. */
  private def digest(rs: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rs.mkString(";").getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  /** The top `k` live ids per query by double-precision cosine. */
  private def bruteForce(live: Map[String, Array[Float]], k: Int): Seq[Seq[String]] =
    queries.map { q =>
      live.toSeq.map { case (id, v) =>
        (id, q.indices.map(i => q(i).toDouble * v(i)).sum)
      }.sortBy(p => (-p._2, p._1)).take(k).map(_._1)
    }

  /** Digests of each step's graph answers when they were recorded. */
  private val pinned: Map[String, String] = Map(
    "full" -> "cf544a5733895e2e",
    "upsert" -> "d3cba5ca82fffb03",
    "delete" -> "843968b904f6da46",
    "delete+reupsert" -> "f4158a03cbdfc536",
    "vacuum" -> "f4158a03cbdfc536",
    "upsert after vacuum" -> "564b6216b5b17890")

  test("graph answers after each incremental refresh are pinned bit for bit") {
    val s = VdbStore.empty(spark, dim)
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Array[Float]]
    def put(rs: Seq[VdbRecord]): Unit = {
      s.upsert(rs)
      rs.foreach { r =>
        val v = NormalizeL2.normalize(r.vector)
        live(Option(r.id).getOrElse(VdbStore.contentHashId(v))) = v
      }
    }
    def step(label: String, mode: String): Unit = {
      val res = s.query(queries, topK = 8, efSearch = 256)
      if (!s.lastQueryStrategy.contains("hnsw"))
        bad += s"$label: strategy ${s.lastQueryStrategy}"
      if (s.hnswLastRebuildMode != mode)
        bad += s"$label: rebuild mode ${s.hnswLastRebuildMode}, want $mode"
      if (res.map(_.map(_.id)) != bruteForce(live.toMap, 8))
        bad += s"$label: ids differ from the brute-force top-k"
      val d = digest(rows(res))
      if (!pinned.get(label).contains(d)) bad += s""""$label" -> "$d","""
    }
    try {
      put(recs("r", 240, seed = 1))
      s.enableHnsw(m = 8, efConstruction = 60)
      step("full", "full")

      // updates of live ids, new ids, and records without an id (the
      // id is the content hash of the normalized vector)
      val upd = vecs(10, seed = 2).zipWithIndex.map { case (v, i) =>
        VdbRecord(f"r${i * 7}%03d", v, s"""{"n": ${i * 7}, "p": "u"}""")
      }
      val fresh = recs("n", 6, seed = 3)
      val hashed = vecs(4, seed = 4).map(v => VdbRecord(null, v, """{"p": "h"}"""))
      put(upd ++ fresh ++ hashed)
      step("upsert", "incremental")

      // deletes, three of ids that never existed
      val gone = Seq("r001", "r005", "r013", "r029", "n002", "r100", "r150", "r203")
      assert(s.delete(gone ++ Seq("zz0", "zz1", "zz2")) == gone.sorted)
      gone.foreach(live.remove)
      step("delete", "incremental")

      // within one delta: a live id deleted and upserted again, and an
      // id deleted in the previous delta upserted again
      assert(s.delete(Seq("r040", "r041")) == Seq("r040", "r041"))
      live.remove("r041")
      put(Seq(
        VdbRecord("r040", vecs(1, seed = 5).head, """{"p": "back"}"""),
        VdbRecord("r005", vecs(1, seed = 6).head, """{"p": "again"}""")))
      step("delete+reupsert", "incremental")

      // a vacuum only drops tombstones: no active row changes
      s.vacuum()
      step("vacuum", "incremental")

      put(recs("v", 5, seed = 7) ++ Seq(
        VdbRecord("r002", vecs(1, seed = 8).head, """{"p": "late"}""")))
      step("upsert after vacuum", "incremental")
      assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    } finally s.releaseCaches()
  }

  test("a graph refresh and a first reader inside the pack lock both finish") {
    val s = VdbStore.empty(spark, dim)
    val base = recs("r", 120, seed = 11)
    s.upsert(base)
    s.enableHnsw(m = 8, efConstruction = 60)
    s.query(queries, topK = 3) // builds the graphs and the pack
    val moved = VdbRecord("r007", queries.head, """{"p": "moved"}""")
    s.upsert(Seq(moved)) // pack and graphs are now a version behind

    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val inside = new CountDownLatch(1)
    val fired = new AtomicBoolean
    @volatile var reader: Thread = null
    @volatile var refresher: Thread = null
    @volatile var nested: Seq[VdbHit] = Nil
    @volatile var read: Seq[VdbHit] = Nil
    @volatile var answer: Seq[Seq[VdbHit]] = Nil
    // The first build of this version runs in `reader`. Inside the pack
    // lock it waits for the graph query to block on a lock it holds,
    // and then reads the store again, which asks for the rows of the
    // version once more while it still holds the pack lock.
    s.packBuiltHook = () =>
      if (fired.compareAndSet(false, true)) {
        inside.countDown()
        val deadline = System.nanoTime() + 60000000000L
        def blockedOnReader: Boolean = Option(refresher).exists { r =>
          Option(mx.getThreadInfo(r.getId)).exists(_.getLockOwnerId == reader.getId)
        }
        while (!blockedOnReader && System.nanoTime() < deadline) Thread.sleep(10)
        nested = s.get(Seq("r003"))
      }
    reader = new Thread(() => { read = s.get(Seq("r007", "r003"), includeVector = true) })
    refresher = new Thread(() => { answer = s.query(queries.take(2), topK = 3, efSearch = 128) })
    Seq(reader, refresher).foreach(_.setDaemon(true))
    try {
      reader.start()
      assert(inside.await(60, TimeUnit.SECONDS), "the reader never reached the pack build")
      refresher.start()
      reader.join(120000)
      refresher.join(120000)
      assert(!reader.isAlive && !refresher.isAlive,
        "the reader and the graph query did not both finish: a lock-order deadlock")
    } finally s.packBuiltHook = () => ()
    assert(read.map(_.id) == Seq("r007", "r003"))
    assert(read.head.metaJson.contains("""{"p": "moved"}"""))
    assert(nested.map(_.id) == Seq("r003"))
    assert(s.hnswLastRebuildMode == "incremental")
    val live = (base.map(r => r.id -> r.vector).toMap + ("r007" -> read.head.vector.get))
    assert(answer.map(_.map(_.id)) == bruteForce(live, 3).take(2))
    assert(answer.head.head.id == "r007")
    s.releaseCaches()
  }
}
