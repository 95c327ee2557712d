package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{VdbHit, VdbRecord, VdbStore}

/** The id-keyed reads of the store facade, pinned bit for bit: `get`
  * (request order, duplicate ids, unknown/deleted/re-upserted ids, null
  * meta, with and without vectors, the empty list and a list one past
  * `graft.inlist.max`, across upsert, delete and vacuum), and the `ids`
  * restriction of the exact `query` (alone below and above
  * `graft.inlist.max`, with `where`, with `betterThan`, empty, and
  * naming no live row).
  *
  * Every answer renders as ids in order, meta, and the raw bits of
  * scores and vectors, and is pinned by a digest of that rendering. The
  * query digests are taken under `graft.query.exact`, whose
  * sequential-double scores do not depend on the SIMD vector width. The
  * default float-kernel answers are pinned to a twin that names the
  * same rows through a `where` Column instead of `ids`.
  */
class IdKeyedReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dim = 16

  /** `n` records from serial `from`, jittered around 5 random
    * directions, with an integer group `g` in meta; every 7th record
    * has no meta.
    */
  private def recs(from: Int, n: Int, seed: Int): Seq[VdbRecord] = {
    val rng = new scala.util.Random(seed)
    val centres = Array.fill(5)(Array.fill(dim)(rng.nextGaussian().toFloat))
    (from until from + n).map { i =>
      val c = centres(i % 5)
      val v = Array.tabulate(dim)(j => c(j) + rng.nextGaussian().toFloat * 0.7f)
      VdbRecord(f"r$i%04d", v,
        if (i % 7 == 0) null else s"""{"g": ${i % 6}, "i": $i}""")
    }
  }

  private def fresh(): VdbStore = {
    val s = VdbStore.empty(spark, dim)
    s.upsert(recs(0, 300, 3))
    s
  }

  private def hex(bits: Long): String = java.lang.Long.toHexString(bits)

  /** One hit: id, raw score bits, meta, raw vector bits. */
  private def render(h: VdbHit): String =
    s"${h.id}|${hex(java.lang.Double.doubleToRawLongBits(h.metrics))}|" +
      s"${h.metaJson.getOrElse("<none>")}|" +
      h.vector.map(_.map(f =>
        hex(java.lang.Float.floatToRawIntBits(f).toLong & 0xffffffffL))
        .mkString(",")).getOrElse("-")

  /** SHA-256 of the rendered answer, first 16 hex digits. */
  private def digest(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  private def digestHits(hits: Seq[VdbHit]): String = digest(hits.map(render))

  private def digestAnswer(ans: Seq[Seq[VdbHit]]): String =
    digest(ans.zipWithIndex.flatMap { case (hs, q) => hs.map(h => s"$q:${render(h)}") })

  /** Digests of the answers when they were recorded. */
  private val pinned: Map[String, String] = Map(
    "get order" -> "c5bb212e7ac99262",
    "get order +vector" -> "b4a93c4408601fb1",
    "get inlist.max+1 +vector" -> "aeaca5f024f82e11",
    "get inlist.max+1" -> "b2dbb35e17f62708",
    "get before writes" -> "f89c91bf6a66be04",
    "get after upsert" -> "e0d614b4aa7ff7a5",
    "get after delete" -> "247504cac9c7cf9b",
    "get after re-upsert" -> "7544ce774213e575",
    "get after vacuum" -> "70508d9922e6709c",
    "query ids few exact" -> "e08104b558cde61a",
    "query ids many exact" -> "03717ef41a567e0e",
    "query ids few + where exact" -> "c940e784312c9136",
    "query ids many + where exact" -> "23737c4790821a0e",
    "query ids few + betterThan exact" -> "0d0dd4bb65227dde",
    "query ids many + betterThan exact" -> "dfac07e912f36802",
    "query ids empty exact" -> "e3b0c44298fc1c14",
    "query ids none live exact" -> "e3b0c44298fc1c14",
    "query ids + whereFn exact" -> "57eebd1b08134845")

  /** Compares labelled answers with their pins; reports all mismatches. */
  private final class Pins {
    private val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    def apply(label: String, d: String): Unit =
      if (!pinned.get(label).contains(d)) bad += s""""$label" -> "$d","""
    def check(): Unit = assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  private def ids(hits: Seq[VdbHit]): Seq[String] = hits.map(_.id)

  private def withConf[T](kv: (String, String))(f: => T): T = {
    spark.conf.set(kv._1, kv._2)
    try f finally spark.conf.unset(kv._1)
  }

  test("get: request order, duplicates, unknown and null-meta ids, with and without vectors") {
    val s = fresh()
    val pins = new Pins
    val req = Seq("r0010", "r0003", "nope", "r0010", "r0007", "r0299", "r0000")
    val got = s.get(req)
    assert(ids(got) == Seq("r0010", "r0003", "r0010", "r0007", "r0299", "r0000"))
    assert(got.forall(h => h.vector.isEmpty && h.metrics.isNaN))
    assert(got.filter(h => h.id == "r0007" || h.id == "r0000").forall(_.metaJson.isEmpty))
    assert(got.find(_.id == "r0003").flatMap(_.metaJson).contains("""{"g": 3, "i": 3}"""))
    pins("get order", digestHits(got))
    val withVec = s.get(req, includeVector = true)
    assert(ids(withVec) == ids(got))
    assert(withVec.forall(_.vector.exists(_.length == dim)))
    assert(withVec.map(_.metaJson) == got.map(_.metaJson))
    pins("get order +vector", digestHits(withVec))
    assert(s.get(Nil).isEmpty)
    assert(s.get(Nil, includeVector = true).isEmpty)
    assert(s.get(Seq("nope", "r9999")).isEmpty)
    assert(s.getById("r0042", includeVector = true).map(render) ==
      s.get(Seq("r0042"), includeVector = true).headOption.map(render))
    pins.check()
  }

  test("get: a list one past graft.inlist.max, in request order") {
    val s = fresh()
    val pins = new Pins
    val max = spark.conf.getOption("graft.inlist.max").map(_.toInt)
      .getOrElse(VdbStore.InListMax)
    val rng = new scala.util.Random(11)
    val req = rng.shuffle((0 until 300).map(i => f"r$i%04d") ++
      (0 until max + 1 - 300).map(i => s"missing$i"))
    assert(req.size == max + 1)
    val got = s.get(req, includeVector = true)
    assert(ids(got) == req.filter(_.startsWith("r")))
    pins("get inlist.max+1 +vector", digestHits(got))
    pins("get inlist.max+1", digestHits(s.get(req)))
    pins.check()
  }

  test("get across upsert, delete, re-upsert and vacuum") {
    val s = fresh()
    val pins = new Pins
    val req = Seq("r0005", "r0006", "r0007", "r0300", "r0301", "r0014")
    pins("get before writes", digestHits(s.get(req, includeVector = true)))
    // update r0005..r0009 (new vectors and meta) and insert r0300..r0304
    s.upsert(recs(5, 5, 17) ++ recs(300, 5, 19))
    val afterUpsert = s.get(req, includeVector = true)
    assert(ids(afterUpsert) == req)
    pins("get after upsert", digestHits(afterUpsert))
    assert(s.delete(Seq("r0006", "r0301", "nope")) == Seq("r0006", "r0301"))
    val afterDelete = s.get(req, includeVector = true)
    assert(ids(afterDelete) == Seq("r0005", "r0007", "r0300", "r0014"))
    pins("get after delete", digestHits(afterDelete))
    // re-upsert a deleted id with a new vector and no meta
    s.upsert(Seq(VdbRecord("r0006", Array.tabulate(dim)(j => (j % 3).toFloat), null)))
    val reUp = s.get(req, includeVector = true)
    assert(ids(reUp) == Seq("r0005", "r0006", "r0007", "r0300", "r0014"))
    assert(reUp(1).metaJson.isEmpty)
    pins("get after re-upsert", digestHits(reUp))
    s.vacuum()
    val afterVacuum = s.get(req, includeVector = true)
    assert(afterVacuum.map(render) == reUp.map(render))
    pins("get after vacuum", digestHits(s.get(req)))
    pins.check()
  }

  /** Query vectors: two stored rows, one fresh vector, the zero vector. */
  private def queries(s: VdbStore): Seq[Array[Float]] = {
    val stored = s.get(Seq("r0012", "r0101"), includeVector = true).map(_.vector.get)
    val rng = new scala.util.Random(23)
    stored ++ Seq(Array.fill(dim)(rng.nextGaussian().toFloat), new Array[Float](dim))
  }

  /** The `ids` cases: label -> (ids, where, betterThan). */
  private def idsCases(max: Int): Seq[(String, Seq[String], Option[org.apache.spark.sql.Column], Option[Double])] = {
    val few = (0 until 300 by 9).map(i => f"r$i%04d") ++ Seq("nope", "r0006")
    val many = (0 until 300 by 2).map(i => f"r$i%04d") ++
      (0 until max + 1 - 150).map(i => s"missing$i")
    Seq(
      ("ids few", few, None, None),
      ("ids many", many, None, None),
      ("ids few + where", few, Some(get_json_object(col("meta"), "$.g").cast("int") < 3), None),
      ("ids many + where", many, Some(get_json_object(col("meta"), "$.g").cast("int") >= 2), None),
      ("ids few + betterThan", few, None, Some(0.6)),
      ("ids many + betterThan", many, None, Some(0.5)),
      ("ids empty", Nil, None, None),
      ("ids none live", Seq("nope", "r0006", "r9999"), None, None))
  }

  test("query with ids: exact-filtered answers pinned bit for bit, and equal to the where-twin under float kernels") {
    val s = fresh()
    s.delete(Seq("r0006", "r0150"))
    val pins = new Pins
    val max = spark.conf.getOption("graft.inlist.max").map(_.toInt)
      .getOrElse(VdbStore.InListMax)
    val qs = queries(s)
    idsCases(max).foreach { case (label, list, where, bt) =>
      assert(list.size > max == label.contains("many"), label)
      val exact = withConf("graft.query.exact" -> "true") {
        s.query(qs, topK = 5, betterThan = bt, where = where, ids = Some(list))
      }
      assert(s.lastQueryStrategy.contains("exact-filtered"), label)
      assert(exact.size == qs.size, label)
      assert(exact.flatten.forall(h => list.contains(h.id) && h.id != "r0006" && h.id != "r0150"), label)
      assert(exact.flatten.forall(h => bt.forall(h.metrics >= _)), label)
      if (list.isEmpty || label == "ids none live") assert(exact.forall(_.isEmpty), label)
      else assert(exact.exists(_.nonEmpty), label)
      pins(s"query $label exact", digestAnswer(exact))
      // default float kernels: the same rows named by a where Column
      val float = s.query(qs, topK = 5, betterThan = bt, where = where, ids = Some(list))
      assert(s.lastQueryStrategy.contains("exact-filtered"), label)
      val byWhere = col("_id_").isin(list: _*)
      val twin = s.query(qs, topK = 5, betterThan = bt,
        where = Some(where.fold(byWhere)(w => byWhere && w)))
      assert(float.map(_.map(render)) == twin.map(_.map(render)), label)
      assert(float.map(_.map(_.id)) == exact.map(_.map(_.id)), label)
    }
    pins.check()
  }

  test("query with ids and whereFn: the post-score recheck and the member agree") {
    val s = fresh()
    val pins = new Pins
    val qs = queries(s)
    val list = (0 until 300 by 3).map(i => f"r$i%04d")
    val fn: (String, String) => Boolean = (id, m) => m != null && id < "r0200"
    val exact = withConf("graft.query.exact" -> "true") {
      s.query(qs, topK = 5, ids = Some(list), whereFn = Some(fn))
    }
    assert(s.lastQueryStrategy.contains("exact-filtered"))
    assert(exact.flatten.nonEmpty &&
      exact.flatten.forall(h => list.contains(h.id) && h.id < "r0200" && h.metaJson.isDefined))
    pins("query ids + whereFn exact", digestAnswer(exact))
    pins.check()
  }
}
