package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{UpsertReport, VdbRecord, VdbStore}

/** The store's write semantics over one sequence, pinned by a digest
  * after every write: the upsert reports and delete returns,
  * `getAll(includeVector = true, includeDeleted = true)` with raw
  * vector bits (ordered by id: the row order of a snapshot is not part
  * of the contract), `count`, `capacity` and the snapshot's partition
  * count. The sequence covers updates, inserts, content-hash ids,
  * within-batch duplicates, tombstone reuse with more and with fewer
  * inserts than tombstones, the re-insert of a tombstoned id, deletes
  * of live, unknown and already-deleted ids, a DataFrame upsert,
  * vacuum, and the 16th-mutation checkpoint.
  */
class WriteSemanticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val dim = 6

  private def vec(seed: Int): Array[Float] = {
    val rng = new scala.util.Random(seed)
    Array.fill(dim)((rng.nextFloat() - 0.5f) * 4f)
  }

  private def rec(id: String, seed: Int, tag: String = null): VdbRecord =
    VdbRecord(id, vec(seed), if (tag == null) null else s"""{"t": "$tag"}""")

  private def digest(s: VdbStore, result: String): String = {
    val rows = s.getAll(includeVector = true, includeDeleted = true).sortBy(_.id)
      .map { h =>
        val bits = h.vector.map(_.map(f => java.lang.Float.floatToRawIntBits(f).toHexString)
          .mkString(",")).getOrElse("-")
        s"${h.id}|${h.metaJson.getOrElse("null")}|$bits"
      }
    (Seq(result, s"count=${s.count()}", s"capacity=${s.capacity()}",
      s"partitions=${s.df.rdd.getNumPartitions}") ++ rows).mkString("\n")
  }

  private def sha(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  private def report(r: UpsertReport): String =
    s"update=${r.update.mkString(",")} insert=${r.insert.mkString(",")}"

  test("every write of the sequence leaves the pinned store") {
    val s = VdbStore.empty(spark, dim)
    val steps = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def step(name: String)(write: => String): Unit = {
      val text = digest(s, write)
      steps += ((name, text))
    }
    val dup = vec(900)
    // an empty store's first write keeps its own partitioning
    step("first insert")(report(s.upsert(Seq(rec("r00", 0, "x"), rec("r01", 1)))))
    // a one-row batch over two partitions: three, fewer than the cores
    step("one insert")(report(s.upsert(Seq(rec("r02", 2, "x")))))
    // inserts, a content-hash id, a within-batch duplicate (last wins),
    // and two null ids with one vector: one content-hash row
    step("inserts")(report(s.upsert(
      (3 until 12).map(i => rec(f"r$i%02d", i, s"v$i")) ++ Seq(
        rec("r03", 103, "dup-first"), rec("r03", 203, "dup-last"),
        VdbRecord(null, dup, """{"t": "hash"}"""),
        VdbRecord(null, dup.map(_ * 2f), """{"t": "hash2"}""")))))
    step("delete live and unknown")(
      s.delete(Seq("r00", "r01", "r02", "r05", "unknown", "r05")).mkString(","))
    step("delete deleted, live and unknown")(
      s.delete(Seq("r01", "r06", "nope")).mkString(","))
    step("delete nothing live")(s.delete(Seq("r01", "nope")).mkString(","))
    // fewer inserts than tombstones: two slots consumed, largest ids
    step("updates and fewer inserts")(report(s.upsert(Seq(
      rec("r07", 307, "u"), rec("n1", 401), rec("r08", 308, "u"),
      rec("n2", 402, "n2"), rec("n1", 501, "n1-last")))))
    // more inserts than tombstones; r00's own tombstone is its slot
    step("re-insert and more inserts")(report(s.upsert(Seq(
      rec("r00", 600, "back"), rec("n3", 603), rec("n4", 604, "n4"),
      rec("n5", 605), rec("n6", 606, "n6")))))
    step("update only")(report(s.upsert(Seq(rec("n3", 703, "n3u")))))
    step("zero vector")(report(s.upsert(Seq(
      VdbRecord("z", new Array[Float](dim), """{"t": "zero"}""")))))
    step("delete for vacuum")(s.delete(Seq("r09", "r10", "n5")).mkString(","))
    step("vacuum") { s.vacuum(); "vacuum" }
    val ss = spark
    import ss.implicits._
    val frame = Seq(("r11", vec(811), """{"t": "df-upd"}"""),
      ("d1", vec(812), """{"t": "df-ins"}"""), ("r09", vec(813), null: String))
      .toDF("_id_", "vector", "meta")
    step("upsertDF")(s.upsertDF(frame).toString)
    step("delete after upsertDF")(s.delete(Seq("d1", "r03")).mkString(","))
    // single-row writes up to and past the 16th mutation's checkpoint
    (0 until 6).foreach { i =>
      step(s"small upsert $i")(report(s.upsert(Seq(rec(s"s$i", 900 + i, s"s$i")))))
      if (i % 2 == 1) step(s"small delete $i")(s.delete(Seq(s"s${i - 1}")).mkString(","))
    }
    step("upsert after checkpoint")(report(s.upsert(Seq(rec("s0", 990, "s0-back"),
      rec("r04", 991, "r04u"), rec("t1", 992)))))
    step("final vacuum") { s.vacuum(); "vacuum" }

    val got = steps.map { case (name, text) => name -> sha(text) }
    val want = Seq[(String, String)](
      "first insert" -> "dc41308fa99baf60",
      "one insert" -> "2349501a39ed977f",
      "inserts" -> "a7e9bb9da588d79a",
      "delete live and unknown" -> "53c45bd285c81b04",
      "delete deleted, live and unknown" -> "ee2b143f95e97122",
      "delete nothing live" -> "82732734a5d3bc4d",
      "updates and fewer inserts" -> "e81022b21b7623bd",
      "re-insert and more inserts" -> "54b41b7a7fd353f7",
      "update only" -> "5af3e196a20ec294",
      "zero vector" -> "37570a86933bae99",
      "delete for vacuum" -> "4591c4ab2191b561",
      "vacuum" -> "b822497f492090ca",
      "upsertDF" -> "136baf9ca293906f",
      "delete after upsertDF" -> "74b83dd48b2a81c0",
      "small upsert 0" -> "bbf619d9b70dbe46",
      "small upsert 1" -> "e126ae00d07820d6",
      "small delete 1" -> "877a19157c72e537",
      "small upsert 2" -> "5071b10d1c170c85",
      "small upsert 3" -> "8a0d29825dca612f",
      "small delete 3" -> "801a70d5eeb60f50",
      "small upsert 4" -> "67325ee31fd06831",
      "small upsert 5" -> "4ccc073f28cec3a3",
      "small delete 5" -> "c1a2751b82a564a1",
      "upsert after checkpoint" -> "5ac0bfe952d9f2fd",
      "final vacuum" -> "516418be8c94058f")
    if (got.map(_._2) != want.map(_._2)) {
      val firstBad = got.indices.find(i => i >= want.length || got(i)._2 != want(i)._2)
      fail(s"digests differ from step ${firstBad.map(got(_)._1)}:\n" +
        got.map { case (n, h) => s""""$n" -> "$h",""" }.mkString("\n") +
        firstBad.map(i => s"\n--- step ${got(i)._1}:\n${steps(i)._2}").getOrElse(""))
    }
    s.releaseCaches()
  }
}
