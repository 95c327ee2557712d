package perfbench

import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.types._
import graft.core.{VdbHit, VdbRecord, VdbStore}

/** One query shape of a workload's mix: its filter as the store sees it
  * (`betterThan`/`where`/`ids`) and as the oracle sees it (`filter`).
  */
final case class Mix(name: String, filter: Filter, betterThan: Option[Double] = None,
                     where: Option[Column] = None, ids: Option[Seq[String]] = None) {
  def cls: String = if (filter.name == "none") "search" else "filtered"
}

/** Helpers shared by the workloads. */
abstract class StoreWorkload(run: Run) extends Workload(run) {
  val K = 10

  def ingestFrame(t: Table): DataFrame = {
    val schema = StructType(Seq(StructField("_id_", StringType), StructField("vector",
      ArrayType(FloatType, containsNull = false)), StructField("meta", StringType)))
    val rows = t.ids.indices.map(i => Row(t.ids(i), t.vecs(i).toSeq, t.meta(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  /** Drop every cached Dataset and persisted RDD: a fresh set-up must not
    * find the previous one's data.
    */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** An empty store filled with `t` by one bulk upsertDF. */
  def ingest(t: Table): (VdbStore, Double) = {
    val store = VdbStore.empty(spark, t.dim)
    val frame = ingestFrame(t)
    val t0 = System.nanoTime()
    run.must("VdbStore", "upsertDF")(store.upsertDF(frame))
    (store, (System.nanoTime() - t0) / 1e9)
  }

  def whereBucketBelow(n: Int): Column =
    get_json_object(col("meta"), "$.b").cast("int") < n

  def sampleIds(r: SplittableRandom, t: Table, share: Double): (Seq[String], Set[Int]) = {
    val rows = (0 until t.size).filter(_ => r.nextDouble() < share)
    (rows.map(t.ids(_)), rows.toSet)
  }

  def bucketBelow(t: Table, n: Int): Int => Boolean = i => t.bucket(i) < n

  def hits(h: Seq[VdbHit]): Seq[Hit] = h.map(x => Hit(x.id, x.metrics))

  /** Attach the facade's per-call telemetry to the span just closed. */
  def telemetry(store: VdbStore, before: Map[String, Double]): Unit =
    run.tracer.last.foreach { s =>
      s.attrs("strategy") = store.lastQueryStrategy.getOrElse("none")
      s.attrs("ann_filtered_passes") = store.lastAnnFilteredPasses
      s.attrs("bloom_refills") = store.lastBloomRefillCount
      s.attrs("hnsw_fallback_scans") = store.lastHnswFilteredFallbackScans
      val after = store.lastTimings
      for (k <- Seq("hnsw_refresh", "ann_refresh") if after.get(k) != before.get(k)) {
        s.attrs(k + "_s") = after(k)
        s.attrs(k + "_mode") =
          if (k == "hnsw_refresh") store.hnswLastRebuildMode else store.annInfo.lastRebuildMode
      }
    }

  /** One `query` call of `mix` over pool rows `qs`, checked against the
    * oracle rows `truth(q)`; exact answers must be a true top-k.
    */
  def queryCall(store: VdbStore, mix: Mix, pool: Array[Array[Float]], qs: Array[Int],
                u: Universe, truth: Int => Array[Double], exact: Boolean): Option[Seq[Seq[VdbHit]]] = {
    val before = store.lastTimings
    val res = run.op(mix.cls, "VdbStore", "query", qs.length)(
      store.query(qs.map(pool(_)).toSeq, K, mix.betterThan, mix.where, mix.ids))
    telemetry(store, before)
    res.map(planted(exact, _, u, truth(qs(0)))).foreach { r =>
      run.checkBatch(s"query ${mix.name} (${store.lastQueryStrategy.getOrElse("?")})", r.size,
        i => Truth.check(hits(r(i)), K, u, truth(qs(i)), mix.filter, exact), exact)
    }
    res
  }

  /** A get of `ids`, checked: the live ones come back, in request order,
    * with their metadata.
    */
  def getCall(store: VdbStore, ids: Seq[String], metaOf: String => Option[String]): Unit =
    run.op("get", "VdbStore", "get")(store.get(ids)).map(plantedMeta).foreach { got =>
      run.check("get") {
        val want = ids.filter(id => metaOf(id).isDefined)
        val gotIds = got.map(_.id)
        if (gotIds != want) Verdict(ok = false, 0, s"get returned ${gotIds.take(3)}..., wanted ${want.take(3)}...")
        else got.find(h => h.metaJson != metaOf(h.id))
          .map(h => Verdict(ok = false, 0, s"get ${h.id} meta ${h.metaJson}, wanted ${metaOf(h.id)}"))
          .getOrElse(Verdict(ok = true, 1, ""))
      }
    }

  /** The answer with one deliberate error when the run plants one in
    * this checker: a non-top-k row (with its true score) in an exact
    * answer, or a wrong score in an accelerated one.
    */
  def planted(exact: Boolean, r: Seq[Seq[VdbHit]], u: Universe,
              truth0: Array[Double]): Seq[Seq[VdbHit]] =
    run.opts.plant match {
      case "exact" if exact && r.nonEmpty && r.head.nonEmpty =>
        val taken = r.head.map(_.id).toSet
        val other = u.ids.indices.reverseIterator.find(i => !taken(u.ids(i)) && u.live(i)).get
        (r.head.init :+ r.head.last.copy(id = u.ids(other), metrics = truth0(other))) +: r.tail
      case "accel" if !exact && r.nonEmpty && r.head.nonEmpty =>
        (r.head.head.copy(metrics = r.head.head.metrics + 0.01) +: r.head.tail) +: r.tail
      case _ => r
    }

  def plantedMeta(h: Seq[VdbHit]): Seq[VdbHit] =
    if (run.opts.plant == "get" && h.nonEmpty) h.head.copy(metaJson = Some("{}")) +: h.tail
    else h

  final class Cursor(n: Int) {
    private var at = 0
    def take(m: Int): Array[Int] = Array.fill(m) { val i = at; at = (at + 1) % n; i }
  }
}

/** `exact_batch`: uniform random rows, no accelerator. `query` calls of 50
  * vectors in the profiler's filter mix, gets of the hits, and a bulk
  * `queryDF` per cycle. The packed exact scan, the kernels and the
  * per-call Spark overhead do all the work.
  */
final class ExactBatch(run: Run) extends StoreWorkload(run) {
  val n: Int = if (tiny) 2000 else 10000
  val dim: Int = if (tiny) 64 else 1024
  val batch: Int = if (tiny) 10 else 50
  val dfRows: Int = if (tiny) 40 else 300
  val table: Table = Data.uniformTable(seed, n, dim)
  val pool: Array[Array[Float]] = Data.queries(seed + 1, if (tiny) 40 else 256, dim)
  val u: Universe = Universe.of(table)
  private val rnd = new SplittableRandom(seed + 2)
  private val (ids1, rows1) = sampleIds(rnd, table, 0.01)
  private val (ids10, rows10) = sampleIds(rnd, table, 0.10)
  override def fixedCycles: Int = 3
  val plain: Mix = Mix("plain", Filter.All)
  val where10: Mix =
    Mix("where10", Filter("w10", bucketBelow(table, 10)), where = Some(whereBucketBelow(10)))
  val mixes: Seq[Mix] = Seq(
    plain,
    Mix("better_than", Filter("bt", _ => true, Some(0.1)), betterThan = Some(0.1)),
    plain,
    where10,
    plain,
    Mix("where50", Filter("w50", bucketBelow(table, 50)), where = Some(whereBucketBelow(50))),
    plain,
    Mix("ids1", Filter("ids1", rows1.contains), ids = Some(ids1)),
    plain,
    Mix("ids10", Filter("ids10", rows10.contains), ids = Some(ids10)))
  var store: VdbStore = _
  var truth: Array[Array[Double]] = _
  private val cursor = new Cursor(pool.length)
  private var lastHits: Seq[String] = Seq("d0")

  def ladderTable: Table = table

  def setup(): (Long, Double) = {
    release()
    val (s, secs) = ingest(table)
    store = s
    // first-query warm-up: builds the cached pack and compiles the plans
    run.must("VdbStore", "query")(store.query(pool.take(batch).toSeq, K))
    run.must("VdbStore", "query")(store.query(pool.take(batch).toSeq, K, where = where10.where))
    run.must("VdbStore", "get")(store.get(Seq("d0")))
    (n.toLong, secs)
  }

  override def prepareTruth(): Unit = truth = u.scoreMatrix(pool)

  /** Three untimed cycles: after only one, the first measured cycle still
    * ran about 20 % slower than the later ones, and its window's search
    * median 15-25 % above theirs.
    */
  override def warm(): Unit = (0 until (if (tiny) 1 else 3)).foreach(cycle)

  private def metaOf(id: String): Option[String] = u.rowOf(id) match {
    case -1 => None
    case r => Some(table.meta(r))
  }

  def cycle(i: Int): Unit = {
    mixes.foreach { m =>
      queryCall(store, m, pool, cursor.take(batch), u, truth, exact = true)
        .foreach(r => if (m eq plain) lastHits = r.flatten.map(_.id).distinct.take(10))
    }
    lastHits.grouped(2).foreach(getCall(store, _, metaOf))
    bulkQuery(cursor.take(dfRows))
  }

  private def bulkQuery(qs: Array[Int]): Unit = {
    val ss = spark
    import ss.implicits._
    val frame = qs.indices.map(j => (j.toLong, pool(qs(j)))).toDF("qid", "qvec")
    run.op("bulk", "VdbStore", "queryDF", qs.length)(
      store.queryDF(frame, "qid", "qvec", K).select("qid", "_id_", "score", "rank").collect()
    ).map(rows => if (run.opts.plant == "queryDF") rows.filter(_.getLong(0) != 0L) else rows
    ).foreach { rows =>
      val byQ = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(3)).map(r => Hit(r.getString(1), r.getDouble(2))).toSeq
      }
      run.checkBatch("queryDF", qs.length,
        j => Truth.check(byQ.getOrElse(j.toLong, Seq.empty), K, u, truth(qs(j)), Filter.All,
          exact = true), exact = true)
    }
  }
}

/** `mutate_mixed`: a clustered store with HNSW on, under a repeated cycle
  * of upserts (updates, inserts, content-hash inserts), deletes, gets and
  * three queries, with a vacuum every second cycle and a save + load round
  * trip at the end. Every answer is checked against an in-memory model of
  * the store's semantics.
  *
  * The measured phase runs in rounds of two cycles, each on a store fresh
  * from set-up (rebuilt untimed): on one store, every further cycle costs
  * more than the one before (the second to fourth took 5 s, 11 s and 85 s,
  * and the fourth ran out of heap), so a longer chain cannot finish a run.
  */
final class MutateMixed(run: Run) extends StoreWorkload(run) {
  val n: Int = if (tiny) 1000 else 3000
  val dim: Int = if (tiny) 32 else 256
  val batch: Int = if (tiny) 5 else 10
  val nUpdate: Int = if (tiny) 10 else 100
  val nInsert: Int = if (tiny) 6 else 60
  val nHashed: Int = if (tiny) 4 else 40
  val nDelete: Int = if (tiny) 10 else 50
  val nGet: Int = if (tiny) 10 else 20
  val centres: Array[Array[Float]] = Data.centres(new SplittableRandom(seed + 3), if (tiny) 20 else 30, dim)
  val table: Table = Data.clusteredTable(seed, n, dim, centres)
  private val rnd = new SplittableRandom(seed + 5)

  /** The model: live id -> (vector, bucket, meta), in insertion order. */
  private val model = new java.util.LinkedHashMap[String, (Array[Float], Int, String)]()
  private val gone = scala.collection.mutable.ArrayBuffer.empty[String]
  private var serial = n
  var store: VdbStore = _
  var persistS: Double = Double.NaN
  override def fixedCycles: Int = if (tiny) 4 else 6
  override def period: Int = 2

  def ladderTable: Table = table

  def setup(): (Long, Double) = {
    release()
    model.clear()
    gone.clear()
    table.ids.indices.foreach(i =>
      model.put(table.ids(i), (table.vecs(i), table.bucket(i), table.meta(i))))
    val (s, secs) = ingest(table)
    store = s
    store.enableHnsw()
    run.must("VdbStore", "query")(store.query(table.vecs.take(batch).toSeq, K))
    run.must("VdbStore", "query")(store.query(table.vecs.take(batch).toSeq, K, Some(0.1)))
    run.must("VdbStore", "get")(store.get(Seq("d0")))
    (n.toLong, secs)
  }

  private def metaOf(id: String): Option[String] = Option(model.get(id)).map(_._3)

  private def liveIds: Array[String] = model.keySet().toArray(new Array[String](0))

  private def universe(): Universe = {
    val ids = liveIds
    val vb = ids.map(model.get)
    new Universe(ids, vb.map(_._1), vb.map(_._2), Array.fill(ids.length)(true))
  }

  private def pick(from: Array[String], m: Int): Seq[String] = {
    val chosen = new java.util.LinkedHashSet[String]()
    while (chosen.size < math.min(m, from.length)) chosen.add(from(rnd.nextInt(from.length)))
    chosen.toArray(new Array[String](0)).toSeq
  }

  private def newVec(): Array[Float] =
    Data.nearVec(rnd, centres(rnd.nextInt(centres.length)), Data.Spread)

  /** No untimed cycle: it would take a round's time in every run, and the
    * medians over rounds already set the first, colder round aside.
    */
  override def warm(): Unit = ()

  def cycle(c: Int): Unit = {
    if (c > 0 && c % period == 0) run.untimed(setup())
    // upsert: updates of live ids, inserts with new ids, inserts with no id
    val live = liveIds
    val upd = pick(live, nUpdate)
    val recs = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Float], Int, String)]
    def rec(id: String): Unit = {
      val b = rnd.nextInt(100)
      serial += 1
      recs += ((id, newVec(), b, Data.meta(b, serial)))
    }
    upd.foreach(rec)
    (0 until nInsert).foreach(_ => rec(s"u${serial + 1}"))
    (0 until nHashed).foreach(_ => rec(null))
    val records = recs.map { case (id, v, _, m) => VdbRecord(id, v, m) }
    run.op("write", "VdbStore", "upsert")(store.upsert(records.toSeq)).map { rep =>
      if (run.opts.plant == "model") rep.copy(insert = rep.insert.drop(1)) else rep
    }.foreach { rep =>
      val hashed = recs.filter(_._1 == null).map(r => Model.contentId(r._2))
      val wantIns = (recs.map(_._1).filter(id => id != null && !model.containsKey(id)) ++ hashed).sorted
      run.check("upsert report") {
        if (rep.update != upd.sorted) Verdict(ok = false, 0, s"update set ${rep.update.size} ids, wanted ${upd.size}")
        else if (rep.insert != wantIns) Verdict(ok = false, 0, s"insert set ${rep.insert.size} ids, wanted ${wantIns.size}")
        else Verdict(ok = true, 1, "")
      }
    }
    recs.foreach { case (id, v, b, m) =>
      model.put(if (id == null) Model.contentId(v) else id, (v, b, m))
    }

    // delete: live ids plus a few that never existed
    val del = pick(liveIds, nDelete - 5) ++ (0 until 5).map(j => s"never-$c-$j")
    run.op("write", "VdbStore", "delete")(store.delete(del))
      .map(got => if (run.opts.plant == "delete") got.drop(1) else got).foreach { got =>
      val want = del.filter(model.containsKey).sorted
      run.check("delete result") {
        if (got == want) Verdict(ok = true, 1, "")
        else Verdict(ok = false, 0, s"delete returned ${got.size} ids, wanted ${want.size}")
      }
    }
    del.foreach { id => if (model.remove(id) != null) gone += id }

    // get: live ids and deleted ones, a few per call
    val ask = (pick(liveIds, nGet - 5) ++ gone.takeRight(5)).distinct
    ask.grouped(4).foreach(getCall(store, _, metaOf))

    // three queries: HNSW (with its lazy refresh), exact better_than, exact where
    val u = universe()
    val qs = Array.fill(batch)(newVec())
    val qIdx = qs.indices.toArray
    lazy val truth = u.scoreMatrix(qs)
    queryCall(store, Mix("plain", Filter.All), qs, qIdx, u, truth(_), exact = false)
    queryCall(store, Mix("better_than", Filter("bt", _ => true, Some(0.1)), betterThan = Some(0.1)),
      qs, qIdx, u, truth(_), exact = true)
    queryCall(store, Mix("where10", Filter("w10", r => u.bucket(r) < 10), where = Some(whereBucketBelow(10))),
      qs, qIdx, u, truth(_), exact = true)

    if (c % 2 == 1) {
      run.op("maint", "VdbStore", "vacuum")(store.vacuum())
      run.op("maint", "VdbStore", "count")(store.count())
        .map(cnt => if (run.opts.plant == "count") cnt + 1 else cnt).foreach { cnt =>
        run.check("count after vacuum") {
          if (cnt == model.size) Verdict(ok = true, 1, "")
          else Verdict(ok = false, 0, s"count $cnt, model ${model.size}")
        }
      }
    }
  }

  /** Save + load round trip, up to the loaded store's first count; the
    * reloaded store must equal the model.
    */
  override def finish(): Unit = {
    val dir = new java.io.File(Main.workDir, s"store-${seed}")
    Main.deleteTree(dir)
    val t0 = System.nanoTime()
    val loaded = for {
      _ <- run.op("persist", "VdbStore", "save")(store.save(dir.getAbsolutePath))
      l <- run.op("persist", "StoreIO", "load")(VdbStore.load(spark, dir.getAbsolutePath))
      cnt <- run.op("persist", "VdbStore", "count")(l.count())
    } yield (l, cnt)
    persistS = (System.nanoTime() - t0) / 1e9
    loaded.foreach { case (l, cnt) =>
      run.check("reload") {
        val got = l.getAll().map(h => h.id -> h.metaJson).toMap
        val all = if (run.opts.plant == "reload") got.updated(got.keys.min, Some("{}")) else got
        val want = liveIds.map(id => id -> metaOf(id)).toMap
        if (cnt != model.size) Verdict(ok = false, 0, s"reloaded count $cnt, model ${model.size}")
        else if (all != want) Verdict(ok = false, 0, s"reloaded store differs from the model (${all.size} vs ${want.size} rows)")
        else Verdict(ok = true, 1, "")
      }
    }
    val userBytes = model.entrySet().asScala.iterator
      .map(e => dim * 4.0 + e.getKey.length + e.getValue._3.length).sum
    run.layer("storeio_bytes_per_user_byte") = (Main.treeBytes(dir) / userBytes, "ratio")
    run.layer("persist_s") = (persistS, "s")
    Main.deleteTree(dir)
  }
}

/** The model's content-hash id: md5 of the L2-normalized float32 vector's
  * little-endian bytes, hex (the reference's id rule).
  */
object Model {
  def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0
    v.foreach(x => s += x.toDouble * x.toDouble)
    if (s == 0.0) { val o = new Array[Float](v.length); if (o.nonEmpty) o(0) = 1f; o }
    else { val inv = 1.0 / math.sqrt(s); v.map(x => (x * inv).toFloat) }
  }

  def contentId(v: Array[Float]): String = {
    val bb = java.nio.ByteBuffer.allocate(v.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asFloatBuffer().put(normalize(v))
    java.security.MessageDigest.getInstance("MD5").digest(bb.array()).map(b => f"$b%02x").mkString
  }
}
