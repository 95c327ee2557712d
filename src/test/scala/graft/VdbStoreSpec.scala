package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{VdbRecord, VdbStore}

/** Behavioral parity with the reference test suite
  * (/root/reference/tests/): upsert merge laws, deleted-row visibility,
  * counts/capacity, filter semantics, persistence round-trip.
  */
class VdbStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def rec(id: String, v: Array[Float], meta: String = null) =
    VdbRecord(id, v, meta)

  private def freshStore(dim: Int = 3): VdbStore = VdbStore.empty(spark, dim)

  test("upsert reports inserts, then updates on re-upsert (test_more.py:57-67)") {
    val s = freshStore()
    val r1 = s.upsert(Seq(rec("a", Array(1f, 0f, 0f)), rec("b", Array(0f, 1f, 0f))))
    assert(r1.insert.sorted == Seq("a", "b") && r1.update.isEmpty)
    val r2 = s.upsert(Seq(rec("a", Array(0f, 0f, 1f)), rec("c", Array(1f, 1f, 0f))))
    assert(r2.update == Seq("a") && r2.insert == Seq("c"))
    assert(s.count() == 3)
  }

  test("missing id derives md5 content id; same vector re-upsert is an update (test_pico_vdb.py:69-85)") {
    val s = freshStore()
    val v = Array(0.5f, 0.5f, 0.5f)
    val r1 = s.upsert(Seq(rec(null, v)))
    assert(r1.insert.size == 1 && r1.insert.head.length == 32)
    val r2 = s.upsert(Seq(rec(null, v.clone())))
    assert(r2.update == r1.insert && r2.insert.isEmpty)
    assert(s.count() == 1)
  }

  test("dimension mismatch raises with the reference's message shapes (test_task3_input_validation.py)") {
    val s = freshStore(3)
    intercept[IllegalArgumentException] {
      s.upsert(Seq(rec("x", Array(1f, 2f))))
    }
    // batch vs single messages mirror pico_vdb.py:566-575
    val batch = intercept[IllegalArgumentException] {
      s.query(Seq(Array(1f, 2f)))
    }
    assert(batch.getMessage.contains(
      "query vectors dim mismatch: expected last dim 3, got 2"))
    val single = intercept[IllegalArgumentException] {
      s.queryOne(Array(1f, 2f))
    }
    assert(single.getMessage.contains(
      "query vector dim mismatch: expected 3, got 2"))
  }

  test("query returns top-k by cosine with scores (orthonormal fixture)") {
    val s = freshStore(3)
    s.upsert(Seq(
      rec("e0", Array(1f, 0f, 0f)), rec("e1", Array(0f, 1f, 0f)),
      rec("e2", Array(0f, 0f, 1f))))
    val hits = s.queryOne(Array(0.9f, 0.1f, 0f), topK = 2)
    assert(hits.map(_.id) == Seq("e0", "e1"))
    assert(math.abs(hits.head.metrics - 0.9 / math.sqrt(0.82)) < 1e-5)
  }

  test("zero query vector maps to e0 deterministically (test_task5)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("e0", Array(1f, 0f, 0f)), rec("e1", Array(0f, 1f, 0f))))
    val hits = s.queryOne(Array(0f, 0f, 0f), topK = 1)
    assert(hits.head.id == "e0" && math.abs(hits.head.metrics - 1.0) < 1e-6)
  }

  test("better_than keeps scores >= threshold (test_pico_vdb.py:59-64)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("e0", Array(1f, 0f, 0f)), rec("e1", Array(0f, 1f, 0f))))
    val hits = s.queryOne(Array(1f, 0f, 0f), topK = 10, betterThan = Some(0.5))
    assert(hits.map(_.id) == Seq("e0"))
  }

  test("where Column predicate and ids restriction intersect (test_task34)") {
    val s = freshStore(3)
    s.upsert(Seq(
      rec("a", Array(1f, 0f, 0f), """{"keep": true}"""),
      rec("b", Array(0.9f, 0.1f, 0f), """{"keep": false}"""),
      rec("c", Array(0.8f, 0.2f, 0f), """{"keep": true}""")))
    val keep = get_json_object(col("meta"), "$.keep") === "true"
    val hits = s.queryOne(Array(1f, 0f, 0f), topK = 10, where = Some(keep))
    assert(hits.map(_.id) == Seq("a", "c"))
    val both = s.queryOne(Array(1f, 0f, 0f), topK = 10, where = Some(keep),
      ids = Some(Seq("b", "c")))
    assert(both.map(_.id) == Seq("c"))
  }

  test("deleted ids never returned; count/capacity track tombstones (test_task2, test_task8)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f)), rec("b", Array(0f, 1f, 0f)),
      rec("c", Array(0f, 0f, 1f))))
    val removed = s.delete(Seq("b", "nope"))
    assert(removed == Seq("b"))
    assert(s.count() == 2 && s.capacity() == 3)
    assert(s.queryOne(Array(0f, 1f, 0f), topK = 10).map(_.id).forall(_ != "b"))
    assert(s.get(Seq("b")).isEmpty)
    val st = s.stats()
    assert(st.active == 2 && st.deleted == 1 && st.total == 3)
  }

  test("insert after delete reuses the tombstone slot (test_more.py:115-130)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f)), rec("b", Array(0f, 1f, 0f))))
    s.delete(Seq("a"))
    assert(s.capacity() == 2)
    s.upsert(Seq(rec("d", Array(0f, 0f, 1f))))
    assert(s.count() == 2 && s.capacity() == 2) // slot reused, no growth
  }

  test("re-inserting a deleted id leaves no duplicate rows (free-slot reuse edge)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f)), rec("z", Array(0f, 1f, 0f))))
    s.delete(Seq("a", "z"))
    val rep = s.upsert(Seq(rec("a", Array(0f, 0f, 1f))))
    assert(rep.insert == Seq("a") && rep.update.isEmpty)
    assert(s.count() == 1 && s.capacity() == 2) // one active 'a' + one free slot
    val all = s.getAll(includeDeleted = true)
    assert(all.map(_.id).sorted == Seq("a", "z")) // no duplicate 'a'
    assert(s.queryOne(Array(0f, 0f, 1f), 1).head.id == "a")
  }

  test("upsertDF collapses duplicate ids within one batch (at-least-once redelivery)") {
    import spark.implicits._
    val s = freshStore(3)
    val batch = Seq(
      ("a", Array(1f, 0f, 0f), null: String),
      ("a", Array(1f, 0f, 0f), null: String), // same row delivered twice
      ("b", Array(0f, 1f, 0f), null: String)).toDF("_id_", "vector", "meta")
    val (u, i) = s.upsertDF(batch)
    assert(u == 0 && i == 2)
    assert(s.count() == 2 && s.capacity() == 2) // no duplicate 'a' row
  }

  test("upsertDF re-inserting a deleted id leaves no duplicate rows") {
    import spark.implicits._
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f)), rec("b", Array(0f, 1f, 0f))))
    s.delete(Seq("a"))
    val batch = Seq(("a", Array(0f, 0f, 1f), null: String)).toDF("_id_", "vector", "meta")
    val (u, i) = s.upsertDF(batch)
    assert(u == 0 && i == 1) // 'a' was tombstoned, so it's an insert
    assert(s.getAll(includeDeleted = true).map(_.id).sorted == Seq("a", "b"))
    assert(s.count() == 2 && s.capacity() == 2)
  }

  test("upsertDF accepts integer ids; they round-trip by value as strings (documented deviation)") {
    // Reference keeps ints as ints (tests/test_pico_vdb.py:128,134); a
    // DataFrame key column has one type, so ids canonicalize to STRING —
    // README "Deliberate deviations".
    import spark.implicits._
    val s = freshStore(3)
    val batch = Seq((7, Array(1f, 0f, 0f), null: String),
      (42, Array(0f, 1f, 0f), null: String)).toDF("_id_", "vector", "meta")
    val (u, i) = s.upsertDF(batch)
    assert(u == 0 && i == 2)
    assert(s.get(Seq("7")).head.id == "7")
    assert(s.queryOne(Array(0f, 1f, 0f), 1).head.id == "42")
    // re-upserting id 42 with a new vector is an update, not a duplicate
    val (u2, i2) = s.upsertDF(
      Seq((42, Array(0f, 0f, 1f), null: String)).toDF("_id_", "vector", "meta"))
    assert(u2 == 1 && i2 == 0 && s.count() == 2)
  }

  test("BIGINT ids survive upsert -> query -> save -> load by value (VERDICT r9 #6)") {
    // The full typed-key lifecycle for the README id deviation: integer
    // ids canonicalize to strings but must survive BY VALUE through
    // every stage — including 19-digit longs that a float/double hop
    // would silently round (9007199254740993 = 2^53 + 1 is the classic
    // casualty: it reads back as ...992 through a double).
    import spark.implicits._
    val ids = Seq(7L, 42L, 9007199254740993L, Long.MaxValue)
    val vecs = Seq(Array(1f, 0f, 0f), Array(0f, 1f, 0f),
      Array(0f, 0f, 1f), Array(1f, 1f, 0f))
    val s = freshStore(3)
    val (u, i) = s.upsertDF(
      ids.zip(vecs).map { case (id, v) => (id, v, null: String) }
        .toDF("_id_", "vector", "meta"))
    assert(u == 0 && i == 4)
    // query returns the values verbatim, castable back to the longs
    val hit = s.queryOne(Array(0f, 0f, 1f), 1).head
    assert(hit.id == "9007199254740993", s"2^53+1 must not round: ${hit.id}")
    assert(hit.id.toLong == 9007199254740993L)
    val dir = java.nio.file.Files.createTempDirectory("vdb-bigint").toString + "/s"
    s.save(dir)
    val back = core.VdbStore.load(spark, dir)
    ids.foreach { id =>
      val got = back.get(Seq(id.toString))
      assert(got.nonEmpty && got.head.id.toLong == id,
        s"id $id must round-trip save/load by value")
    }
    assert(back.get(Seq(Long.MaxValue.toString)).head.id.toLong == Long.MaxValue)
  }

  test("vacuum drops tombstones (test_api_ergonomics.py)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f)), rec("b", Array(0f, 1f, 0f))))
    s.delete(Seq("a"))
    s.vacuum()
    assert(s.count() == 1 && s.capacity() == 1)
  }

  test("getAll include_deleted shows id-only placeholders (test_task7)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("0", Array(1f, 0f, 0f), """{"k": 0}"""),
      rec("1", Array(0f, 1f, 0f), """{"k": 1}"""),
      rec("2", Array(0f, 0f, 1f), """{"k": 2}""")))
    s.delete(Seq("1"))
    assert(s.getAll().map(_.id).toSet == Set("0", "2"))
    val all = s.getAll(includeVector = true, includeDeleted = true)
    assert(all.map(_.id).toSet == Set("0", "1", "2"))
    val placeholder = all.find(_.id == "1").get
    assert(placeholder.metaJson.isEmpty && placeholder.vector.isEmpty) // id-only
    all.filter(_.id != "1").foreach(h => assert(h.vector.nonEmpty))
  }

  test("get/getAll with and without vectors (test_task32)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(3f, 4f, 0f), """{"x": 1}""")))
    val g = s.get(Seq("a"), includeVector = true)
    assert(g.head.metaJson.contains("""{"x": 1}"""))
    val v = g.head.vector.get
    assert(math.abs(v(0) - 0.6f) < 1e-6 && math.abs(v(1) - 0.8f) < 1e-6)
    assert(s.get(Seq("a")).head.vector.isEmpty)
    assert(s.getAll().size == 1)
  }

  test("save/load round-trip preserves records + additional data (test_more.py:81-99)") {
    val dir = java.nio.file.Files.createTempDirectory("vdb").toString + "/store"
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f), """{"k": "v"}"""),
      rec("b", Array(0f, 1f, 0f))))
    s.delete(Seq("b"))
    s.storeAdditionalData("note" -> "hello", "n" -> "42")
    s.save(dir)
    val loaded = VdbStore.load(spark, dir)
    assert(loaded.dim == 3)
    assert(loaded.count() == 1 && loaded.capacity() == 2)
    assert(loaded.getAdditionalData == Map("note" -> "hello", "n" -> "42"))
    assert(loaded.queryOne(Array(1f, 0f, 0f), topK = 1).head.id == "a")
    // second save over the same path replaces atomically
    loaded.save(dir)
    assert(VdbStore.load(spark, dir).count() == 1)
  }

  test("additional_data round-trips nested JSON values (pico_vdb.py:500-512, json.dump :364-371)") {
    val dir = java.nio.file.Files.createTempDirectory("vdbjson").toString + "/store"
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f))))
    s.storeAdditionalData("plain" -> "with \"quotes\"\nand newline")
    s.storeAdditionalDataJson(
      "nested" -> """{"a": [1, 2, {"b": "c"}], "d": null}""",
      "list" -> """[1.5, true, "x"]""",
      "num" -> "7")
    s.save(dir)
    val loaded = VdbStore.load(spark, dir)
    val raw = loaded.getAdditionalDataJson
    assert(raw("nested") == """{"a": [1, 2, {"b": "c"}], "d": null}""")
    assert(raw("list") == """[1.5, true, "x"]""")
    assert(raw("num") == "7")
    // the string view unquotes JSON strings and passes raw values through
    val str = loaded.getAdditionalData
    assert(str("plain") == "with \"quotes\"\nand newline")
    assert(str("num") == "7")
    // survives a second save/load (values re-serialized verbatim)
    loaded.save(dir)
    assert(VdbStore.load(spark, dir).getAdditionalDataJson("nested") ==
      """{"a": [1, 2, {"b": "c"}], "d": null}""")
  }

  test("ann_nlist inside user additional_data does NOT enable ANN on load (parse scoping)") {
    val dir = java.nio.file.Files.createTempDirectory("vdbannkey").toString + "/store"
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f))))
    s.storeAdditionalDataJson("cfg" -> """{"ann_nlist": 8}""")
    s.save(dir)
    val loaded = VdbStore.load(spark, dir)
    assert(!loaded.annInfo.enabled) // nested key must not leak into meta parsing
    assert(loaded.getAdditionalDataJson("cfg") == """{"ann_nlist": 8}""")
  }

  test("storeAdditionalDataJson rejects invalid JSON before it can poison a snapshot") {
    val s = freshStore(3)
    intercept[IllegalArgumentException] {
      s.storeAdditionalDataJson("k" -> "not json")
    }
    intercept[IllegalArgumentException] {
      s.storeAdditionalDataJson("k" -> """{"unclosed": [1, 2""")
    }
    // valid scalar/bool/null forms pass
    s.storeAdditionalDataJson("n" -> "-1.5e3", "t" -> "true", "z" -> "null")
    assert(s.getAdditionalDataJson("n") == "-1.5e3")
  }

  test("truncated store meta raises a diagnosable error, not StringIndexOutOfBounds") {
    val e = intercept[IllegalArgumentException] {
      graft.core.StoreIO.parseMeta(
        """{"embedding_dim": 3, "additional_data": {"k": "val""")
    }
    assert(e.getMessage.contains("meta"))
  }

  test("failed save leaves the previous snapshot loadable (test_more.py:271 atomic_save analog)") {
    val dir = java.nio.file.Files.createTempDirectory("vdbatomic").toString + "/store"
    val good = freshStore(3)
    good.upsert(Seq(rec("a", Array(1f, 0f, 0f))))
    good.save(dir)
    // a store whose data evaluation explodes mid-write (disk-full analog)
    val boom = org.apache.spark.sql.functions.udf((_: String) => {
      throw new RuntimeException("boom"); true
    })
    val bad = VdbStore.fromDF(spark, 3, good.df.filter(boom(col("_id_"))))
    intercept[Exception] { bad.save(dir) }
    // pointer still names the complete old snapshot; partial one cleaned up
    val loaded = VdbStore.load(spark, dir)
    assert(loaded.count() == 1 && loaded.get(Seq("a")).nonEmpty)
    val names = new java.io.File(dir).listFiles.map(_.getName)
    assert(names.count(_.startsWith("v-")) == 1)
  }

  test("versioned save keeps one live snapshot + atomic pointer; saver stays usable") {
    val dir = java.nio.file.Files.createTempDirectory("vdbver").toString + "/store"
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f))))
    s.save(dir)
    s.upsert(Seq(rec("b", Array(0f, 1f, 0f))))
    s.save(dir)
    s.upsert(Seq(rec("c", Array(0f, 0f, 1f))))
    s.save(dir)
    val names = new java.io.File(dir).listFiles.map(_.getName)
    // current + one grace snapshot survive; older ones are swept
    assert(names.count(_.startsWith("v-")) == 2)
    assert(names.contains("_current"))
    // the saving store still answers (lineage re-pointed at the new snapshot)
    assert(s.count() == 3 && s.queryOne(Array(0f, 0f, 1f), 1).head.id == "c")
    assert(VdbStore.load(spark, dir).count() == 3)
  }

  test("batch query returns one hit list per query vector (test_more.py:151-155)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("e0", Array(1f, 0f, 0f)), rec("e1", Array(0f, 1f, 0f))))
    val res = s.query(Seq(Array(1f, 0f, 0f), Array(0f, 1f, 0f)), topK = 1)
    assert(res.size == 2)
    assert(res(0).head.id == "e0" && res(1).head.id == "e1")
  }

  test("top_k larger than active count returns all actives (test_task2:27-33)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f)), rec("b", Array(0f, 1f, 0f))))
    assert(s.queryOne(Array(1f, 1f, 0f), topK = 50).size == 2)
  }

  test("large store: upsert report + delete via joins, no store-sized driver collect") {
    import spark.implicits._
    val dim = 8
    val n = 20000
    val s = freshStore(dim)
    // bulk-load via the DataFrame path
    val bulk = spark.range(n).select(
      concat(lit("doc"), lpad(col("id").cast("string"), 6, "0")).as("_id_"),
      org.apache.spark.sql.functions.transform(
        sequence(lit(1), lit(dim)),
        i => (col("id") % 97 + i).cast("float")).as("vector"),
      lit("""{"bulk": true}""").as("meta"))
    val (u0, i0) = s.upsertDF(bulk)
    assert(u0 == 0 && i0 == n && s.count() == n)

    // record-batch upsert: 500 known ids + 500 new ones
    val batch = (0 until 500).map(i => rec(f"doc${i}%06d", Array.fill(dim)(1f))) ++
      (0 until 500).map(i => rec(f"new$i%06d", Array.fill(dim)(2f)))
    val rep = s.upsert(batch)
    assert(rep.update.size == 500 && rep.insert.size == 500)
    assert(s.count() == n + 500)

    // delete > InListMax ids so the broadcast-join branch is exercised
    val doomed = (0 until 1500).map(i => f"doc${i}%06d") :+ "missing"
    val removed = s.delete(doomed)
    assert(removed.size == 1500)
    assert(s.count() == n + 500 - 1500)
    // get with a large id list takes the join branch too
    val got = s.get((0 until 1200).map(i => f"new$i%06d"))
    assert(got.size == 500)
  }

  test("callable where == dict where; post-score recheck applies (test_task34 analog)") {
    val s = freshStore(3)
    s.upsert(Seq(
      rec("a", Array(1f, 0f, 0f), """{"g": "x"}"""),
      rec("b", Array(0.9f, 0.1f, 0f), """{"g": "y"}"""),
      rec("c", Array(0.8f, 0.2f, 0f), """{"g": "x"}"""),
      rec("d", Array(0.7f, 0.3f, 0f), null)))
    val q = Array(1f, 0f, 0f)
    val dictWhere = s.queryOne(q, topK = 10,
      where = Some(get_json_object(col("meta"), "$.g") === "x")).map(_.id)
    val lambdaWhere = s.queryOne(q, topK = 10,
      whereFn = Some((_: String, m: String) =>
        m != null && m.contains(""""g": "x""""))).map(_.id)
    assert(dictWhere == Seq("a", "c"))
    assert(lambdaWhere == dictWhere)
    // null-meta records reach the callable as null and can be selected
    val nullOnly = s.queryOne(q, topK = 10,
      whereFn = Some((_: String, m: String) => m == null))
    assert(nullOnly.map(_.id) == Seq("d"))
    // the callable sees the record id too, like the reference's doc dict
    // (tests/test_pico_vdb.py:125-137 filters on x[K_ID])
    val byId = s.queryOne(q, topK = 10,
      whereFn = Some((id: String, _: String) => id == "b"))
    assert(byId.map(_.id) == Seq("b"))
  }

  test("stats reports file sizes + ann state; ops record timings (O22/O30)") {
    val dir = java.nio.file.Files.createTempDirectory("vdbstats").toString + "/store"
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f)), rec("b", Array(0f, 1f, 0f))))
    assert(s.stats().fileSizeBytes.isEmpty) // never saved
    s.save(dir)
    val st = s.stats()
    assert(st.fileSizeBytes.exists(_ > 0))
    assert(!st.ann.enabled)
    s.queryOne(Array(1f, 0f, 0f))
    val t = s.lastTimings
    assert(t.contains("upsert") && t.contains("save") && t.contains("query"))
    assert(t.values.forall(_ >= 0.0))
    val loaded = VdbStore.load(spark, dir)
    assert(loaded.stats().fileSizeBytes.exists(_ > 0))
  }

  test("upsertDF coerces any numeric array dtype to float32 (test_task17 analog)") {
    import spark.implicits._
    val s = freshStore(3)
    val batch = Seq(("d1", Seq(3.0, 4.0, 0.0), null: String))
      .toDF("_id_", "vector", "meta") // array<double> in, float32 store
    val (u, i) = s.upsertDF(batch)
    assert(u == 0 && i == 1)
    val v = s.get(Seq("d1"), includeVector = true).head.vector.get
    assert(math.abs(v(0) - 0.6f) < 1e-6 && math.abs(v(1) - 0.8f) < 1e-6)
  }

  test("snapshot reads stay stable under concurrent mutation (test_task11 analog)") {
    // The reference guards snapshot reads with an RW lock
    // (pico_vdb.py:593-679); here immutability makes them free: a df
    // reference taken before a mutation keeps answering from its own
    // snapshot, and queries racing a writer never error or see a
    // half-applied state.
    val s = freshStore(4)
    s.upsert((0 until 40).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f
      rec(f"r$i%03d", v)
    })
    val snapshot = s.df // pre-mutation snapshot
    val writer = new Thread(() => {
      (0 until 5).foreach { k =>
        s.upsert(Seq(rec(s"w$k", Array(0f, 0f, 0f, 1f))))
        s.delete(Seq(f"r$k%03d"))
      }
    })
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val failures = new java.util.concurrent.atomic.AtomicInteger
    val readers = (0 until 2).map(_ => new Thread(() => {
      (0 until 10).foreach { _ =>
        try seen.add(s.queryOne(Array(1f, 0f, 0f, 0f), topK = 5).size)
        catch { case _: Throwable => failures.incrementAndGet() }
      }
    }))
    writer.start(); readers.foreach(_.start())
    writer.join(); readers.foreach(_.join())
    assert(failures.get() == 0)
    assert(seen.size() == 20 && seen.iterator().hasNext)
    // the old snapshot is untouched by 5 upserts + 5 deletes
    assert(snapshot.count() == 40)
    assert(s.count() == 40) // 40 - 5 deleted + 5 inserted
  }

  test("a write's snapshot is constant-size: plan and partitions after 20 upsert + delete cycles") {
    // picovdb writes in place (pico_vdb.py:403-537): a write costs
    // O(batch), never O(history). Each cycle updates one row, inserts
    // a named and a content-hash row, and deletes one row; the snapshot
    // it leaves must not carry the store's history in its plan or its
    // partition count.
    val s = freshStore(4)
    val live = scala.collection.mutable.Set.empty[String]
    s.upsert((0 until 40).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f
      live += f"r$i%03d"
      rec(f"r$i%03d", v)
    })
    def cycle(k: Int): Unit = {
      val hashed = Array(1f, k.toFloat, 0f, 2f)
      val rep = s.upsert(Seq(rec(f"r$k%03d", Array(0f, 1f, 1f, 0f)),
        rec(s"w$k", Array(0f, 0f, 1f, k.toFloat)), rec(null, hashed)))
      live ++= rep.insert
      assert(rep.update == Seq(f"r$k%03d"))
      assert(s.delete(Seq(f"r${k + 20}%03d")) == Seq(f"r${k + 20}%03d"))
      live -= f"r${k + 20}%03d"
    }
    def shape(): (Int, Int) =
      (s.df.queryExecution.toString.length, s.df.rdd.getNumPartitions)
    cycle(0)
    val (plan1, parts1) = shape()
    (1 until 20).foreach { k =>
      cycle(k)
      val (plan, parts) = shape()
      assert(plan <= 2 * plan1, s"cycle ${k + 1}: plan $plan chars, $plan1 after cycle 1")
      assert(parts <= 2 * parts1, s"cycle ${k + 1}: $parts partitions, $parts1 after cycle 1")
    }
    assert(s.count() == live.size)
    assert(s.get(live.toSeq.sorted).map(_.id) == live.toSeq.sorted)
    // each cycle after the first reuses the slot the previous cycle's
    // delete left: 40 rows + 40 inserts - 19 reused slots
    assert(s.capacity() == 61)
  }

  test("concurrent writers serialize: four threads upserting disjoint ids lose no row") {
    // The reference serializes writers under its RW lock
    // (pico_vdb.py:1019-1063); a writer that reads the store while
    // another is mid-write must not swap in a snapshot without it.
    val s = freshStore(4)
    s.upsert(Seq(rec("base", Array(1f, 0f, 0f, 0f))))
    val threads = 4
    val perThread = 25
    val start = new java.util.concurrent.CyclicBarrier(threads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until threads).map { t =>
      new Thread(() => {
        try {
          start.await()
          s.upsert((0 until perThread).map { i =>
            val v = new Array[Float](4); v(t) = 1f; v((t + 1) % 4) = i.toFloat
            rec(f"t$t-$i%02d", v)
          })
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    assert(failures.isEmpty, failures.toString)
    val ids = for (t <- 0 until threads; i <- 0 until perThread) yield f"t$t-$i%02d"
    assert(s.count() == 1 + threads * perThread)
    assert(s.get(ids).map(_.id) == ids)
  }

  test("within-batch duplicate ids: last record wins (sequential upsert law)") {
    val s = freshStore(3)
    s.upsert(Seq(rec("a", Array(1f, 0f, 0f), """{"v": 1}"""),
      rec("a", Array(0f, 1f, 0f), """{"v": 2}""")))
    assert(s.count() == 1)
    val hit = s.queryOne(Array(0f, 1f, 0f), topK = 1).head
    assert(hit.id == "a" && hit.metaJson.contains("""{"v": 2}"""))
  }

  test("q8 strategy: routed, bypassed like ANN, bit-equal to exact under query.exact, dirtied by mutation") {
    val s = freshStore(4)
    val recs = (0 until 80).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f; v((i + 1) % 4) = 0.1f * (i % 3)
      rec(s"r$i", v, s"""{"g": ${i % 4}}""")
    }
    s.upsert(recs)
    // exact baseline under double scoring, BEFORE enabling q8
    spark.conf.set("graft.query.exact", "true")
    try {
      val q = Array(1f, 0.05f, 0f, 0f)
      val exact = s.queryOne(q, topK = 5)
      assert(s.lastQueryStrategy.contains("exact"))
      s.enableQ8()
      val q8 = s.queryOne(q, topK = 5)
      assert(s.lastQueryStrategy.contains("q8"))
      // double-accumulated rescore == exact strategy under query.exact
      assert(q8.map(h => (h.id, h.metrics)) == exact.map(h => (h.id, h.metrics)))
      // bypass rules mirror ANN: filters and better_than take exact
      s.queryOne(q, topK = 3, where = Some(get_json_object(col("meta"), "$.g") === "1"))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      s.queryOne(q, topK = 3, betterThan = Some(0.1))
      assert(s.lastQueryStrategy.contains("exact"))
      // both enabled -> the composed IVF-SQ8 strategy (round 12):
      // int8 bucket scan for candidates inside the probed lists, fp32
      // rescore — on this well-separated fixture the hits match the
      // exact path (the q59/IvfIndexSpec parity argument)
      s.enableAnn(nList = 4)
      val composed = s.queryOne(q, topK = 3)
      assert(s.lastQueryStrategy.contains("ann+q8"))
      assert(composed.map(_.id) == exact.take(3).map(_.id))
      s.disableAnn()
      // mutation invalidates the cached codes: the new row is findable
      s.upsert(Seq(rec("fresh", Array(0f, 0f, 0f, 1f), """{"g": 9}""")))
      val after = s.queryOne(Array(0f, 0f, 0f, 1f), topK = 1)
      assert(s.lastQueryStrategy.contains("q8"))
      assert(after.head.id == "fresh")
      s.disableQ8()
      s.queryOne(q, topK = 3)
      assert(s.lastQueryStrategy.contains("exact"))
    } finally spark.conf.unset("graft.query.exact")
  }

  test("pq strategy: routed, lowest precedence, bypassed like ANN, bit-equal to exact under query.exact, dirtied by mutation") {
    val s = freshStore(4)
    val recs = (0 until 80).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f; v((i + 1) % 4) = 0.1f * (i % 3)
      rec(s"r$i", v, s"""{"g": ${i % 4}}""")
    }
    s.upsert(recs)
    spark.conf.set("graft.query.exact", "true")
    try {
      val q = Array(1f, 0.05f, 0f, 0f)
      val exact = s.queryOne(q, topK = 5)
      assert(s.lastQueryStrategy.contains("exact"))
      s.enablePq(m = 2)
      val pq = s.queryOne(q, topK = 5)
      assert(s.lastQueryStrategy.contains("pq"))
      // double-accumulated rescore == exact strategy under query.exact
      // (tiny fixture: the codebook memorizes the 80 distinct rows, so
      // the overfetch-8 candidate cut cannot lose the true top-5)
      assert(pq.map(h => (h.id, h.metrics)) == exact.map(h => (h.id, h.metrics)))
      // bypass rules mirror ANN/q8: filters and better_than take exact
      s.queryOne(q, topK = 3, where = Some(get_json_object(col("meta"), "$.g") === "1"))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      s.queryOne(q, topK = 3, betterThan = Some(0.1))
      assert(s.lastQueryStrategy.contains("exact"))
      // lowest precedence: q8 wins when both compression tiers are on
      s.enableQ8()
      s.queryOne(q, topK = 3)
      assert(s.lastQueryStrategy.contains("q8"))
      s.disableQ8()
      // mutation invalidates the cached codes: the new row is findable
      s.upsert(Seq(rec("fresh", Array(0f, 0f, 0f, 1f), """{"g": 9}""")))
      val after = s.queryOne(Array(0f, 0f, 0f, 1f), topK = 1)
      assert(s.lastQueryStrategy.contains("pq"))
      assert(after.head.id == "fresh")
      s.disablePq()
      s.queryOne(q, topK = 3)
      assert(s.lastQueryStrategy.contains("exact"))
      // auto sizing rejects geometry it can't split; explicit m must divide
      val e = intercept[IllegalArgumentException](s.enablePq(m = 3))
      assert(e.getMessage.contains("must divide"))
    } finally spark.conf.unset("graft.query.exact")
  }

  test("bit strategy: routed, coarsest precedence, bypassed like ANN, bit-equal to exact under query.exact, save/load re-enables") {
    val s = freshStore(4)
    val recs = (0 until 80).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f; v((i + 1) % 4) = 0.1f * (i % 3)
      rec(s"r$i", v, s"""{"g": ${i % 4}}""")
    }
    s.upsert(recs)
    spark.conf.set("graft.query.exact", "true")
    try {
      val q = Array(1f, 0.05f, 0f, 0f)
      val exact = s.queryOne(q, topK = 5)
      s.enableBit(bits = 128)
      val bit = s.queryOne(q, topK = 5)
      assert(s.lastQueryStrategy.contains("bit"))
      // shared double rescore == exact strategy under query.exact (the
      // separated fixture: Hamming cannot push the true top-5 out of
      // the overfetch-16 candidate cut)
      assert(bit.map(h => (h.id, h.metrics)) == exact.map(h => (h.id, h.metrics)))
      // bypass rules mirror ANN/q8/pq
      s.queryOne(q, topK = 3, where = Some(get_json_object(col("meta"), "$.g") === "1"))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      s.queryOne(q, topK = 3, betterThan = Some(0.1))
      assert(s.lastQueryStrategy.contains("exact"))
      // coarsest precedence: pq (and q8) win when enabled beside it
      s.enablePq(m = 2)
      s.queryOne(q, topK = 3)
      assert(s.lastQueryStrategy.contains("pq"))
      s.disablePq()
      // mutation re-sketches: the new row is findable
      s.upsert(Seq(rec("fresh", Array(0f, 0f, 0f, 1f), """{"g": 9}""")))
      val after = s.queryOne(Array(0f, 0f, 0f, 1f), topK = 1)
      assert(s.lastQueryStrategy.contains("bit"))
      assert(after.head.id == "fresh")
      // save/load round-trips the strategy from the meta key alone
      // (no trained sidecar: the sketch is distribution-free)
      val dir = java.nio.file.Files.createTempDirectory("vdbbit").toString + "/store"
      s.save(dir)
      val loaded = graft.core.StoreIO.load(spark, dir)
      loaded.queryOne(q, topK = 5)
      assert(loaded.lastQueryStrategy.contains("bit"))
      assert(loaded.queryOne(q, topK = 5).map(h => (h.id, h.metrics)) ==
        exact.map(h => (h.id, h.metrics)))
      s.disableBit()
      s.queryOne(q, topK = 3)
      assert(s.lastQueryStrategy.contains("exact"))
      val e = intercept[IllegalArgumentException](s.enableBit(bits = 0))
      assert(e.getMessage.contains("[1, 65536]"))
    } finally spark.conf.unset("graft.query.exact")
  }

  test("auto tier selection: the finest substrate that fits the budget, at cluster-scale footprints and live on a store") {
    import graft.core.VdbStore.autoTier
    // cluster-scale synthetic footprints (1024-d): the SCALING.md
    // ladder choice, pinned. fp32 fits -> exact beats every tier.
    assert(autoTier(1000000L, 1024, 8L << 30) == "exact")
    // fp32 410 GB spills a 128 GB budget, int8 102 GB fits -> q8
    assert(autoTier(100000000L, 1024, 128L << 30) == "q8")
    // int8 10.2 TB spills 2 TB, PQ codes 1.28 TB fit -> pq
    assert(autoTier(10000000000L, 1024, 2L << 40) == "pq")
    // nothing but the sign bits fits -> bit (last resort)
    assert(autoTier(100000000000L, 1024, 2L << 40) == "bit")
    // geometry auto-PQ can't split skips the pq rung
    assert(autoTier(10000000000L, 6, 1L << 30) == "bit")

    // live: enableAuto() measures THIS store (80 rows x 4 dims,
    // fp32 1280 B / int8 320 B / pq-m1 80 B) against the conf budget
    val s = freshStore(4)
    val recs = (0 until 80).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f
      rec(s"r$i", v, s"""{"g": ${i % 4}}""")
    }
    s.upsert(recs)
    val q = Array(1f, 0f, 0f, 0f)
    def choose(memBytes: Long): (String, String) = {
      spark.conf.set("graft.auto.mem.bytes", memBytes.toString)
      try {
        val tier = s.enableAuto()
        s.queryOne(q, topK = 3)
        (tier, s.lastQueryStrategy.get)
      } finally spark.conf.unset("graft.auto.mem.bytes")
    }
    assert(choose(1000000L) == ("exact", "exact"))
    assert(choose(2000L) == ("q8", "q8"))       // budget 1000: fp32 out, int8 in
    assert(choose(630L) == ("pq", "pq"))        // budget 315: int8 out, pq in
    assert(choose(100L) == ("bit", "bit"))      // budget 50: last resort
    s.disableBit()
  }

  test("composed ann+pq / ann+bit strategies: routed from query(), precedence ann+q8 > ann+pq > ann+bit, bypassed like ANN") {
    val s = freshStore(4)
    val recs = (0 until 80).map { i =>
      val v = new Array[Float](4); v(i % 4) = 1f; v((i + 1) % 4) = 0.1f * (i % 3)
      rec(s"r$i", v, s"""{"g": ${i % 4}}""")
    }
    s.upsert(recs)
    spark.conf.set("graft.query.exact", "true")
    try {
      val q = Array(1f, 0.05f, 0f, 0f)
      val exact = s.queryOne(q, topK = 3)
      assert(s.lastQueryStrategy.contains("exact"))
      // enableAnn + enablePq composes: query() routes through the
      // IVF-PQ scan (the r15 gap — pq no longer silently ignored)
      s.enableAnn(nList = 4)
      s.enablePq(m = 2)
      val pqComposed = s.query(Seq(q), topK = 3, nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann+pq"))
      // all lists probed + separated fixture: the fp32-rescored result
      // matches the exact path (the q84 covering argument, small form)
      assert(pqComposed.map(_.id) == exact.map(_.id))
      // O28 bypass holds for the composed tiers too
      s.queryOne(q, topK = 3, where = Some(get_json_object(col("meta"), "$.g") === "1"))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      s.queryOne(q, topK = 3, betterThan = Some(0.1))
      assert(s.lastQueryStrategy.contains("exact"))
      // precedence: the finer int8 tier outranks pq when both are on
      s.enableQ8()
      s.query(Seq(q), topK = 3, nProbe = 4)
      assert(s.lastQueryStrategy.contains("ann+q8"))
      s.disableQ8()
      // bit composes when it is the only compression tier enabled
      s.disablePq()
      s.enableBit(bits = 128)
      val bitComposed = s.query(Seq(q), topK = 3, nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann+bit"))
      assert(bitComposed.map(_.id) == exact.map(_.id))
      // pq outranks bit when both compression tiers are on
      s.enablePq(m = 2)
      s.query(Seq(q), topK = 3, nProbe = 4)
      assert(s.lastQueryStrategy.contains("ann+pq"))
      s.disablePq()
      // mutation flows through: the fresh row is findable composed
      s.upsert(Seq(rec("fresh", Array(0f, 0f, 0f, 1f), """{"g": 9}""")))
      val after = s.query(Seq(Array(0f, 0f, 0f, 1f)), topK = 1, nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann+bit"))
      assert(after.head.id == "fresh")
      // tearing the tiers down restores the plain strategies
      s.disableBit()
      s.query(Seq(q), topK = 3, nProbe = 4)
      assert(s.lastQueryStrategy.contains("ann"))
      s.disableAnn()
      s.queryOne(q, topK = 3)
      assert(s.lastQueryStrategy.contains("exact"))
    } finally spark.conf.unset("graft.query.exact")
  }

  test("filtered-ANN strategy (O16): opt-in routing, exact parity at covering probes, adaptive re-probe, deny polarity, cap fallback") {
    val s = freshStore(8)
    // two well-separated clusters: a* near e0, b* near e4 — so a
    // b-filtered query FROM the a direction probes a-buckets first
    // and must re-probe to fill (the O16 scenario)
    val rng = new scala.util.Random(7)
    def mk(base: Int, tag: String) = (0 until 60).map { i =>
      val v = new Array[Float](8)
      v(base) = 1f
      (0 until 8).foreach(j => v(j) = v(j) + (rng.nextFloat() - 0.5f) * 0.05f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      rec(f"$tag$i%03d", v.map(x => (x / n).toFloat), s"""{"c": "$tag"}""")
    }
    s.upsert(mk(0, "a") ++ mk(4, "b"))
    spark.conf.set("graft.query.exact", "true")
    try {
      val q = { val v = new Array[Float](8); v(0) = 1f; v }
      val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
      s.enableAnn(nList = 4)
      // conf OFF (the default): the blanket O28 exact bypass governs —
      // filtered queries never touch the accelerator unasked
      val exactB = s.queryOne(q, topK = 5, where = whereB)
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      spark.conf.set("graft.ann.filtered", "true")
      // routed, and at covering probes (nProbe = nList) bit-equal to
      // the exact filtered scan under graft.query.exact
      val annB = s.query(Seq(q), topK = 5, where = whereB, nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann-filtered"))
      assert(annB.map(h => (h.id, h.metrics)) ==
        exactB.map(h => (h.id, h.metrics)))
      assert(s.lastFilterMemberSource == "built")
      // the SAME filter on the SAME store version memoizes its
      // membership set — no second distributed id-collect
      val annB2 = s.query(Seq(q), topK = 5, where = whereB, nProbe = 4).head
      assert(s.lastFilterMemberSource == "cached")
      assert(annB2.map(h => (h.id, h.metrics)) ==
        annB.map(h => (h.id, h.metrics)))
      // a mutation invalidates the memo (the match set may change)
      s.upsert(Seq(rec("b999", {
        val v = new Array[Float](8); v(4) = 1f; v
      }, """{"c": "b"}""")))
      s.query(Seq(q), topK = 5, where = whereB, nProbe = 4)
      assert(s.lastFilterMemberSource == "built",
        "a store mutation must rebuild the memoized membership set")
      // adaptive re-probe: at nProbe = 1 the a-direction query's first
      // probe lands in an a-bucket where NO row passes the b filter —
      // the refill loop must widen until k b-rows fill
      val adaptive = s.query(Seq(q), topK = 5, where = whereB, nProbe = 1).head
      assert(s.lastQueryStrategy.contains("ann-filtered"))
      assert(adaptive.size == 5, s"adaptive refill underfilled: $adaptive")
      assert(adaptive.forall(_.id.startsWith("b")))
      assert(s.lastAnnFilteredPasses > 1,
        s"expected a multi-pass refill, got ${s.lastAnnFilteredPasses}")
      // a filter matching FEWER than k rows returns them all — the
      // sweep provably reaches the last bucket before giving up,
      // exactly the exact path's contract
      val few = s.query(Seq(q), topK = 5,
        where = Some(col("_id_").isin("b000", "b001")), nProbe = 1).head
      assert(few.map(_.id).sorted == Seq("b000", "b001"))
      // anti-selective polarity: when the match set overflows the cap
      // but its complement fits, the complement broadcasts as a DENY
      // set — still routed, still exact at covering probes
      val whereMost = Some(!col("_id_").isin("a000", "a001", "a002"))
      spark.conf.unset("graft.ann.filtered")
      val exactMost = s.queryOne(q, topK = 5, where = whereMost)
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      spark.conf.set("graft.ann.filtered", "true")
      spark.conf.set("graft.ann.filtered.max", "10")
      val denyHits = s.query(Seq(q), topK = 5, where = whereMost, nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann-filtered"))
      assert(denyHits.map(h => (h.id, h.metrics)) ==
        exactMost.map(h => (h.id, h.metrics)))
      // both the match set (60) and its complement (60) over the cap:
      // the bloom rung takes over by default (its own spec below);
      // with it disabled, logged fallback to the exact filtered scan
      s.query(Seq(q), topK = 5, where = whereB, nProbe = 4)
      assert(s.lastQueryStrategy.contains("ann-filtered+bloom"))
      spark.conf.set("graft.ann.filtered.bloom", "false")
      s.query(Seq(q), topK = 5, where = whereB, nProbe = 4)
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      spark.conf.unset("graft.ann.filtered.bloom")
      spark.conf.unset("graft.ann.filtered.max")
      // the conservative better_than deviation still bypasses
      s.queryOne(q, topK = 5, where = whereB, betterThan = Some(0.0))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      // ids restrictions route too (they are just another filter form)
      val byIds = s.query(Seq(q), topK = 5,
        ids = Some(Seq("b000", "b001", "b002", "a000")), nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann-filtered"))
      assert(byIds.size == 4)
      // whereFn (the arbitrary-callable form) routes as well — it has
      // no stable closure identity so it never memoizes, and the
      // post-score recheck still applies on top
      val fnB = (_: String, meta: String) => meta != null && meta.contains("\"c\": \"b\"")
      val viaFn = s.query(Seq(q), topK = 5, whereFn = Some(fnB), nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann-filtered"))
      assert(s.lastFilterMemberSource == "built")
      assert(viaFn.map(h => (h.id, h.metrics)) ==
        s.queryOne(q, topK = 5, where = whereB).map(h => (h.id, h.metrics)),
        "whereFn and the equivalent Column filter must agree")
      s.query(Seq(q), topK = 5, whereFn = Some(fnB), nProbe = 4)
      assert(s.lastFilterMemberSource == "built",
        "whereFn filters must never serve a memoized membership set")
    } finally {
      spark.conf.unset("graft.query.exact")
      spark.conf.unset("graft.ann.filtered")
      spark.conf.unset("graft.ann.filtered.max")
      spark.conf.unset("graft.ann.filtered.bloom")
    }
  }

  test("filtered-HNSW strategy (round 17): outranks ann-filtered, exact at covering ef, bloom-composable, polarity telemetry") {
    val s = freshStore(8)
    val rng = new scala.util.Random(29)
    def mk(base: Int, tag: String) = (0 until 60).map { i =>
      val v = new Array[Float](8)
      v(base) = 1f
      (0 until 8).foreach(j => v(j) = v(j) + (rng.nextFloat() - 0.5f) * 0.05f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      rec(f"$tag$i%03d", v.map(x => (x / n).toFloat), s"""{"c": "$tag"}""")
    }
    s.upsert(mk(0, "a") ++ mk(4, "b"))
    spark.conf.set("graft.query.exact", "true")
    try {
      val q = { val v = new Array[Float](8); v(0) = 1f; v }
      val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
      s.enableHnsw()
      // conf OFF: the blanket O28 exact bypass still governs the graph
      // strategy — hnsw+filter was THE remaining exact-repack cliff
      val exactB = s.queryOne(q, topK = 5, where = whereB)
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      spark.conf.set("graft.ann.filtered", "true")
      // routed through the graph rung, and at a store-covering ef the
      // per-shard exact member scan serves — bit-equal to the exact
      // filtered scan under graft.query.exact
      val hnswB = s.query(Seq(q), topK = 5, where = whereB, efSearch = 200).head
      assert(s.lastQueryStrategy.contains("hnsw-filtered"))
      assert(s.lastFilterPolarity == "allow")
      assert(hnswB.map(h => (h.id, h.metrics)) ==
        exactB.map(h => (h.id, h.metrics)))
      // at a PARTIAL beam the graph path still fills k with members
      // (the filtered beam expands until enough accepted rows)
      val partial = s.query(Seq(q), topK = 5, where = whereB, efSearch = 6).head
      assert(s.lastQueryStrategy.contains("hnsw-filtered"))
      assert(partial.size == 5 && partial.forall(_.id.startsWith("b")))
      // precedence: with BOTH accelerators enabled the graph rung
      // outranks the IVF one, mirroring the unfiltered hnsw > ann
      s.enableAnn(nList = 4)
      s.query(Seq(q), topK = 5, where = whereB, efSearch = 200)
      assert(s.lastQueryStrategy.contains("hnsw-filtered"))
      s.disableHnsw()
      s.query(Seq(q), topK = 5, where = whereB, nProbe = 4)
      assert(s.lastQueryStrategy.exists(_.startsWith("ann-filtered")))
      s.disableAnn()
      s.enableHnsw()
      // deny polarity flows through the graph rung too: an
      // anti-selective filter broadcasts its complement
      val whereMost = Some(!col("_id_").isin("a000", "a001", "a002"))
      spark.conf.set("graft.ann.filtered.max", "10")
      val exactMost = {
        spark.conf.unset("graft.ann.filtered")
        val r = s.queryOne(q, topK = 5, where = whereMost)
        spark.conf.set("graft.ann.filtered", "true")
        r
      }
      val denyHits = s.query(Seq(q), topK = 5, where = whereMost,
        efSearch = 200).head
      assert(s.lastQueryStrategy.contains("hnsw-filtered"))
      assert(s.lastFilterPolarity == "deny")
      assert(denyHits.map(h => (h.id, h.metrics)) ==
        exactMost.map(h => (h.id, h.metrics)))
      // bloom rung under the graph strategy: both exact sets overflow
      // the tiny cap, the Bloom admits false positives, verification +
      // refill keep the result exact at a covering beam
      val bloomB = s.query(Seq(q), topK = 5, where = whereB, efSearch = 200).head
      assert(s.lastQueryStrategy.contains("hnsw-filtered+bloom"))
      assert(s.lastFilterPolarity == "bloom")
      assert(bloomB.map(h => (h.id, h.metrics)) ==
        exactB.map(h => (h.id, h.metrics)))
      // the conservative better_than deviation still bypasses
      s.queryOne(q, topK = 5, where = whereB, betterThan = Some(0.0))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      // fallback telemetry: with a genuinely partial beam (exact off,
      // k and ef below the shard row counts) a 2-member filter forces
      // the component-exhaustion snap in every shard lacking members
      spark.conf.unset("graft.ann.filtered.max")
      spark.conf.set("graft.query.exact", "false")
      val tiny2 = s.query(Seq(q), topK = 2,
        where = Some(col("_id_").isin("b000", "b001")), efSearch = 2).head
      spark.conf.set("graft.query.exact", "true")
      assert(s.lastQueryStrategy.contains("hnsw-filtered"))
      assert(tiny2.map(_.id).sorted == Seq("b000", "b001"))
      assert(s.lastHnswFilteredFallbackScans > 0,
        "a sub-k member set must register exact-scan snaps")
    } finally {
      spark.conf.unset("graft.query.exact")
      spark.conf.unset("graft.ann.filtered")
      spark.conf.unset("graft.ann.filtered.max")
      s.disableHnsw(); s.disableAnn()
    }
  }

  test("queryDF (bulk facade): strategy dispatch parity with query() across exact/threshold/ann/hnsw/filtered") {
    val s = freshStore(8)
    val rng = new scala.util.Random(41)
    def mk(base: Int, tag: String) = (0 until 60).map { i =>
      val v = new Array[Float](8)
      v(base) = 1f
      (0 until 8).foreach(j => v(j) = v(j) + (rng.nextFloat() - 0.5f) * 0.05f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      rec(f"$tag$i%03d", v.map(x => (x / n).toFloat), s"""{"c": "$tag"}""")
    }
    val recs = mk(0, "a") ++ mk(4, "b")
    s.upsert(recs)
    import spark.implicits._
    val qvecs = recs.take(6).map(_.vector)
    val qdf = qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("qid", "qvec")
    spark.conf.set("graft.query.exact", "true")
    try {
      def viaDF(topK: Int = 5, betterThan: Option[Double] = None,
                where: Option[org.apache.spark.sql.Column] = None,
                nProbe: Int = 0, efSearch: Int = 0) =
        s.queryDF(qdf, "qid", "qvec", topK, betterThan, where,
            nProbe = nProbe, efSearch = efSearch)
          .collect()
          .map(r => (r.getLong(0), r.getInt(3), r.getString(1),
            math.rint(r.getDouble(2) * 1e9)))
          .toSeq.sortBy(t => (t._1, t._2))
      def viaBatch(topK: Int = 5, betterThan: Option[Double] = None,
                   where: Option[org.apache.spark.sql.Column] = None,
                   nProbe: Int = 0, efSearch: Int = 0) =
        s.query(qvecs, topK, betterThan, where, nProbe = nProbe,
            efSearch = efSearch)
          .zipWithIndex.flatMap { case (hs, qi) =>
            hs.zipWithIndex.map { case (h, r) =>
              (qi.toLong, r + 1, h.id, math.rint(h.metrics * 1e9))
            }
          }.sortBy(t => (t._1, t._2))
      // exact
      assert(viaDF() == viaBatch())
      assert(s.lastQueryStrategy.contains("exact"))
      // threshold routes exact and agrees
      assert(viaDF(betterThan = Some(0.5)) == viaBatch(betterThan = Some(0.5)))
      // exact-filtered
      val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
      assert(viaDF(where = whereB) == viaBatch(where = whereB))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      // ann at covering probes == exact; strategy reported
      s.enableAnn(nList = 4)
      assert(viaDF(nProbe = 4) == viaBatch(nProbe = 4))
      assert(s.lastQueryStrategy.contains("ann"))
      // ann-filtered (opt-in) at covering probes == the exact twin
      spark.conf.set("graft.ann.filtered", "true")
      assert(viaDF(where = whereB, nProbe = 4) ==
        viaBatch(where = whereB, nProbe = 4))
      assert(s.lastQueryStrategy.contains("ann-filtered"))
      // hnsw outranks; bulk graph path is bit-identical to the
      // driver-batch one (HnswStoreSpec pins searchPacked==searchMerged)
      s.enableHnsw()
      assert(viaDF(efSearch = 64) == viaBatch(efSearch = 64))
      assert(s.lastQueryStrategy.contains("hnsw"))
      // hnsw-filtered at a store-covering beam == exact-filtered
      assert(viaDF(where = whereB, efSearch = 200) ==
        viaBatch(where = whereB, efSearch = 200))
      assert(s.lastQueryStrategy.contains("hnsw-filtered"))
      // meta rides along
      val metas = s.queryDF(qdf, "qid", "qvec", 3).select("meta").collect()
      assert(metas.nonEmpty && metas.forall(!_.isNullAt(0)))
      // whereFn on the bulk facade applies at candidate selection (the
      // documented fourth deviation: a bulk plan's closures are
      // captured once with the plan, so post-score live re-validation
      // is impossible by construction — measured, see queryDF's
      // scaladoc); results agree with the Column-filter twin
      s.disableHnsw()
      val fnB = (_: String, m: String) =>
        m != null && m.contains("\"c\": \"b\"")
      val viaFnDF = s.queryDF(qdf, "qid", "qvec", topK = 5, nProbe = 4,
          whereFn = Some(fnB))
        .collect()
        .map(r => (r.getLong(0), r.getInt(3), r.getString(1),
          math.rint(r.getDouble(2) * 1e9)))
        .toSeq.sortBy(t => (t._1, t._2))
      assert(s.lastQueryStrategy.contains("ann-filtered"))
      assert(viaFnDF == viaDF(where = whereB, nProbe = 4),
        "whereFn and the equivalent Column filter must agree on queryDF")
    } finally {
      spark.conf.unset("graft.query.exact")
      spark.conf.unset("graft.ann.filtered")
      s.disableHnsw(); s.disableAnn()
    }
  }

  test("queryDF bloom rung (round 18): distributed verification + refill matches query()'s driver bloom path and the exact twin") {
    val s = freshStore(8)
    val rng = new scala.util.Random(43)
    def mk(base: Int, tag: String) = (0 until 60).map { i =>
      val v = new Array[Float](8)
      v(base) = 1f
      (0 until 8).foreach(j => v(j) = v(j) + (rng.nextFloat() - 0.5f) * 0.05f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      rec(f"$tag$i%03d", v.map(x => (x / n).toFloat), s"""{"c": "$tag"}""")
    }
    val recs = mk(0, "a") ++ mk(4, "b")
    s.upsert(recs)
    import spark.implicits._
    val qvecs = recs.take(6).map(_.vector)
    val qdf = qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("qid", "qvec")
    s.enableAnn(nList = 4)
    val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
    spark.conf.set("graft.query.exact", "true")
    spark.conf.set("graft.ann.filtered", "true")
    // both the 60-row match set and its 60-row complement overflow the
    // forced cap -> the Bloom rung, at a brutal false-positive rate so
    // the verification semi-join actually works for its living
    spark.conf.set("graft.ann.filtered.max", "2")
    spark.conf.set("graft.ann.filtered.bloom.fpp", "0.3")
    try {
      def canonDF(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(3), r.getString(1),
          math.rint(r.getDouble(2) * 1e9)))
        .toSeq.sortBy(t => (t._1, t._2))
      val viaDF = canonDF(s.queryDF(qdf, "qid", "qvec", 5, where = whereB,
        nProbe = 4))
      assert(s.lastQueryStrategy.contains("ann-filtered+bloom"),
        s"bulk facade routed ${s.lastQueryStrategy}")
      assert(s.lastFilterPolarity == "bloom",
        s"polarity ${s.lastFilterPolarity} — the r17 fallback override must be gone")
      val bulkRefills = s.lastBloomRefillCount
      val viaBatch = s.query(qvecs, 5, where = whereB, nProbe = 4)
        .zipWithIndex.flatMap { case (hs, qi) =>
          hs.zipWithIndex.map { case (h, r) =>
            (qi.toLong, r + 1, h.id, math.rint(h.metrics * 1e9))
          }
        }.sortBy(t => (t._1, t._2))
      assert(s.lastQueryStrategy.contains("ann-filtered+bloom"))
      assert(viaDF == viaBatch,
        "bulk bloom (distributed verify + refill) must match the driver loop")
      assert(bulkRefills >= 0 && s.lastBloomRefillCount >= 0)
      // and both equal the exact filtered scan at covering probes
      spark.conf.set("graft.ann.filtered", "false")
      val exact = canonDF(s.queryDF(qdf, "qid", "qvec", 5, where = whereB))
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      assert(viaDF == exact, "bloom rung must be exact at covering probes")
      // a sub-k member tail: restrict to 3 ids via the bloom machinery
      // (cap 2 < 3 matches AND < 117 complement) — every query gets
      // exactly the 3 rows, verified, never a false positive
      spark.conf.set("graft.ann.filtered", "true")
      val tiny = Some(col("_id_").isin("b000", "b001", "b002"))
      val gotTiny = s.queryDF(qdf, "qid", "qvec", 5, where = tiny, nProbe = 4)
        .select("qid", "_id_").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(s.lastQueryStrategy.exists(_.endsWith("+bloom")))
      (0 until 6).foreach { qi =>
        assert(gotTiny.filter(_._1 == qi).map(_._2).sorted.toSeq ==
          Seq("b000", "b001", "b002"), s"qid=$qi bloom sub-k tail wrong")
      }
      // duplicate user qids (round-18 review): two query ROWS sharing a
      // qid stay independent through the bloom bookkeeping — the
      // surrogate row keys keep _scanned/_verified row-scoped (a merged
      // count would double past the eviction test and the re-rank
      // window would take k of the interleaved 2k rows), so the output
      // is the UNION of both rows' independent top-k (the gemmQueries
      // duplicate-qid rule the non-bloom paths already follow)
      val qa = qvecs(0)
      val qb = recs(60).vector // a "b"-class vector, distinct results
      val dupDf = Seq((7L, qa), (7L, qb)).toDF("qid", "qvec")
      val gotDup = s.queryDF(dupDf, "qid", "qvec", 5, where = whereB,
          nProbe = 4)
        .select("qid", "_id_", "rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      assert(s.lastQueryStrategy.exists(_.endsWith("+bloom")))
      assert(gotDup.forall(_._1 == 7L) && gotDup.length == 10,
        s"duplicate qid must keep both rows' top-5 (got ${gotDup.length} rows)")
      val sepDf = Seq((0L, qa), (1L, qb)).toDF("qid", "qvec")
      val gotSep = s.queryDF(sepDf, "qid", "qvec", 5, where = whereB,
          nProbe = 4)
        .select("qid", "_id_", "rank").collect()
        .map(r => (r.getString(1), r.getInt(2)))
      assert(gotDup.map(t => (t._2, t._3)).sorted.toSeq ==
        gotSep.sorted.toSeq,
        "duplicate-qid output must be the multiset union of the rows' " +
          "independent results")
    } finally {
      spark.conf.unset("graft.query.exact")
      spark.conf.unset("graft.ann.filtered")
      spark.conf.unset("graft.ann.filtered.max")
      spark.conf.unset("graft.ann.filtered.bloom.fpp")
      s.disableAnn()
    }
  }

  test("queryDF bloom supersede (round 20): re-collecting a superseded bloom result recomputes row-correct — deterministic surrogate keys, no silent qid/hit misalignment") {
    val s = freshStore(8)
    s.upsert(TestFixtures.twoClusterRecs(seed = 61))
    import spark.implicits._
    val recs = TestFixtures.twoClusterRecs(seed = 61)
    val qa = recs(0).vector
    val qb = recs(60).vector
    // a shuffled query frame WITH duplicate user qids: repartition puts
    // a round-robin exchange in the lineage (the partition-order
    // nondeterminism class the old zipWithUniqueId keys were exposed
    // to), and qid 7 appears twice with DIFFERENT vectors — the case
    // where a key misalignment would visibly swap hit sets
    val qdfA = Seq((7L, qa), (7L, qb), (1L, qb), (2L, qa))
      .toDF("qid", "qvec").repartition(5)
    val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
    s.enableAnn(nList = 4)
    spark.conf.set("graft.query.exact", "true")
    spark.conf.set("graft.ann.filtered", "true")
    spark.conf.set("graft.ann.filtered.max", "2")
    spark.conf.set("graft.ann.filtered.bloom.fpp", "0.3")
    try {
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), math.rint(r.getDouble(2) * 1e9)))
        .toSeq.sorted
      // bloom call A, consumed once while it is the latest call
      val frameA = s.queryDF(qdfA, "qid", "qvec", 5, where = whereB,
        nProbe = 4)
      val gotA = canon(frameA)
      assert(s.lastQueryStrategy.exists(_.endsWith("+bloom")),
        s"fixture must exercise the bloom rung, routed ${s.lastQueryStrategy}")
      // ground truth: the exact-filtered twin on DISTINCT qids (70/71
      // stand in for the duplicated 7), remapped — independent of any
      // engine's duplicate-qid convention
      spark.conf.set("graft.ann.filtered", "false")
      val qdfSep = Seq((70L, qa), (71L, qb), (1L, qb), (2L, qa))
        .toDF("qid", "qvec")
      val want = canon(s.queryDF(qdfSep, "qid", "qvec", 5, where = whereB))
        .map { case (q, id, sc) => (if (q >= 70L) 7L else q, id, sc) }
        .sorted
      spark.conf.set("graft.ann.filtered", "true")
      assert(gotA == want, "bloom result wrong while still latest")
      // bulk call B supersedes A: the slot swap unpersists A's result,
      // and A's own intermediates were already released in-call
      s.queryDF(qdfA, "qid", "qvec", 5).collect()
      assert(s.bloomBulkHeldCount == 0,
        s"non-bloom call must leave the slot empty, holds ${s.bloomBulkHeldCount}")
      // re-collecting the SUPERSEDED frame recomputes the whole bloom
      // lineage unpinned; deterministic surrogate keys must re-derive
      // the same qid/hit assignment (the r19 silent-wrong edge)
      assert(canon(frameA) == want,
        "superseded bloom frame recomputed with misaligned qid/hit rows")
      // and again after ANOTHER bloom call took the slot (A recomputes
      // while a different pinned bloom result is live)
      val frameB = s.queryDF(qdfA, "qid", "qvec", 3, where = whereB,
        nProbe = 4)
      frameB.count()
      assert(s.lastQueryStrategy.exists(_.endsWith("+bloom")))
      assert(canon(frameA) == want,
        "superseded bloom frame wrong after a later bloom call")
    } finally {
      spark.conf.unset("graft.query.exact")
      spark.conf.unset("graft.ann.filtered")
      spark.conf.unset("graft.ann.filtered.max")
      spark.conf.unset("graft.ann.filtered.bloom.fpp")
      s.disableAnn()
    }
  }

  test("queryDF bloom keying windowed fallback (round 21): BIT-IDENTICAL duplicate query rows — the only case the fast path cannot key — stay row-independent and recollect deterministically after supersession") {
    // Round 21 added the window-free fast path (surrogate =
    // xxhash64(0, qid, qvec) when that hash is injective over the
    // batch). A batch holding bit-identical rows collides under EVERY
    // seed, so it must fall into the row_number windowed keying; this
    // pins that fallback's behavior: each duplicate row keeps its own
    // independent top-k (the duplicate-qid union rule), and a
    // superseded result still recomputes row-correct.
    val s = freshStore(8)
    val recs = TestFixtures.twoClusterRecs(seed = 61)
    s.upsert(recs)
    import spark.implicits._
    val qb = recs(60).vector
    val qa = recs(0).vector
    // qid 7 appears TWICE with the SAME vector (bit-identical rows),
    // plus a distinct row; shuffled lineage like the supersede spec
    val qdfDup = Seq((7L, qb), (7L, qb), (2L, qa))
      .toDF("qid", "qvec").repartition(5)
    val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
    s.enableAnn(nList = 4)
    spark.conf.set("graft.query.exact", "true")
    spark.conf.set("graft.ann.filtered", "true")
    spark.conf.set("graft.ann.filtered.max", "2")
    spark.conf.set("graft.ann.filtered.bloom.fpp", "0.3")
    try {
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), math.rint(r.getDouble(2) * 1e9)))
        .toSeq.sorted
      val frame = s.queryDF(qdfDup, "qid", "qvec", 5, where = whereB,
        nProbe = 4)
      val got = canon(frame)
      assert(s.lastQueryStrategy.exists(_.endsWith("+bloom")),
        s"fixture must exercise the bloom rung, routed ${s.lastQueryStrategy}")
      // ground truth: distinct-qid twin through the exact-filtered
      // path, with the duplicated row's result counted TWICE
      spark.conf.set("graft.ann.filtered", "false")
      val qdfSep = Seq((70L, qb), (71L, qb), (2L, qa))
        .toDF("qid", "qvec")
      val want = canon(s.queryDF(qdfSep, "qid", "qvec", 5, where = whereB))
        .map { case (q, id, sc) => (if (q >= 70L) 7L else q, id, sc) }
        .sorted
      assert(got == want,
        "bit-identical duplicate rows must keep independent top-k " +
          "(windowed keying fallback)")
      // supersede + recollect: the windowed keying must re-derive the
      // same keys on an unpinned recompute too
      s.queryDF(qdfDup, "qid", "qvec", 5).collect()
      assert(canon(frame) == want,
        "superseded windowed-keyed bloom frame recomputed wrong")
    } finally {
      spark.conf.unset("graft.query.exact")
      spark.conf.unset("graft.ann.filtered")
      spark.conf.unset("graft.ann.filtered.max")
      spark.conf.unset("graft.ann.filtered.bloom.fpp")
      s.disableAnn()
    }
  }

  test("queryDF flat compressed tiers (round 18): q8/pq/bit strategies serve the bulk engines and match the driver facade") {
    val s = freshStore(8)
    val rng = new scala.util.Random(47)
    val recs = (0 until 150).map { i =>
      val v = Array.fill(8)((rng.nextFloat() - 0.5f))
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      rec(f"v$i%03d", v.map(x => (x / n).toFloat), s"""{"i": $i}""")
    }
    s.upsert(recs)
    import spark.implicits._
    val qvecs = recs.take(5).map(_.vector)
    val qdf = qvecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("qid", "qvec")
    def canonDF(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getString(1),
        math.rint(r.getDouble(2) * 1e9)))
      .toSeq.sortBy(t => (t._1, t._2))
    def viaBatch(topK: Int) = s.query(qvecs, topK)
      .zipWithIndex.flatMap { case (hs, qi) =>
        hs.zipWithIndex.map { case (h, r) =>
          (qi.toLong, r + 1, h.id, math.rint(h.metrics * 1e9))
        }
      }.sortBy(t => (t._1, t._2))
    val covering = ((150 / 5) + 1).toString
    val tiers = Seq(
      ("q8", "graft.q8.overfetch", () => s.enableQ8(), () => s.disableQ8()),
      ("pq", "graft.pq.overfetch", () => s.enablePq(), () => s.disablePq()),
      ("bit", "graft.bit.overfetch", () => s.enableBit(), () => s.disableBit()))
    tiers.foreach { case (tier, key, enable, disable) =>
      enable()
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, covering)
      try {
        val viaDF = canonDF(s.queryDF(qdf, "qid", "qvec", 5))
        assert(s.lastQueryStrategy.contains(tier),
          s"bulk facade routed ${s.lastQueryStrategy}, expected $tier " +
            "(the r17 exact-scan fallback must be gone)")
        val drv = viaBatch(5)
        assert(s.lastQueryStrategy.contains(tier))
        assert(viaDF == drv, s"$tier: bulk != driver facade at covering overfetch")
      } finally {
        disable()
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
    // threshold still routes exact (the conservative deviation)
    s.enableQ8()
    try {
      s.queryDF(qdf, "qid", "qvec", 5, betterThan = Some(0.2)).collect()
      assert(s.lastQueryStrategy.contains("exact"))
    } finally s.disableQ8()
    // teardown releases the bulk-output cache (round-18 review: the
    // LatestCallSlot scaladoc promises an owner teardown via swap(Nil);
    // without it every disable/version-swap leaked one persisted
    // Q x k RDD for the SparkContext lifetime)
    s.enableQ8()
    try {
      s.queryDF(qdf, "qid", "qvec", 5).collect()
      val held = spark.sparkContext.getPersistentRDDs.collect {
        case (id, r) if r.name == "graft.packedscan.out" => id
      }.toSet
      assert(held.nonEmpty, "the bulk flat engine should cache its output")
      s.disableQ8()
      val after = spark.sparkContext.getPersistentRDDs.keySet
      assert(held.forall(id => !after.contains(id)),
        "disableQ8 must release the packed bulk-output cache")
    } finally s.disableQ8()
  }

  test("hnsw-filtered+q8 precedence (round 18): the graph rung composes with int8 and outranks ann-filtered+q8") {
    val s = freshStore(8)
    val rng = new scala.util.Random(51)
    val recs = (0 until 120).map { i =>
      val v = Array.fill(8)((rng.nextFloat() - 0.5f))
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      rec(f"w$i%03d", v.map(x => (x / n).toFloat), s"""{"g": ${i % 2}}""")
    }
    s.upsert(recs)
    val q = recs.head.vector
    val whereEven = Some(get_json_object(col("meta"), "$.g") === "0")
    spark.conf.set("graft.ann.filtered", "true")
    val covering = ((120 / 5) + 1).toString
    spark.conf.set("graft.q8.overfetch", covering)
    s.enableAnn(nList = 4)
    s.enableHnsw()
    s.enableQ8()
    try {
      // covering beam + covering overfetch == the exact filtered scan
      val got = s.query(Seq(q), topK = 5, where = whereEven,
        efSearch = 120).head
      assert(s.lastQueryStrategy.contains("hnsw-filtered+q8"),
        s"routed ${s.lastQueryStrategy} — the graph rung must compose with q8")
      spark.conf.set("graft.ann.filtered", "false")
      spark.conf.set("graft.query.exact", "true")
      val exact = s.query(Seq(q), topK = 5, where = whereEven).head
      assert(got.map(h => (h.id, math.rint(h.metrics * 1e9))) ==
        exact.map(h => (h.id, math.rint(h.metrics * 1e9))))
      // without q8 the same route reports the fp32 graph rung
      spark.conf.set("graft.ann.filtered", "true")
      s.disableQ8()
      s.query(Seq(q), topK = 5, where = whereEven, efSearch = 120)
      assert(s.lastQueryStrategy.contains("hnsw-filtered") &&
        !s.lastQueryStrategy.exists(_.contains("q8")))
    } finally {
      spark.conf.unset("graft.ann.filtered")
      spark.conf.unset("graft.q8.overfetch")
      spark.conf.unset("graft.query.exact")
      s.disableQ8(); s.disableHnsw(); s.disableAnn()
    }
  }

  test("queryDF under micro-batch-style swaps (round 18 soak): version churn never serves stale membership or stale packs") {
    // the r17 memo-staleness soak, re-run through the BULK facade: each
    // upsertDF swap bumps the store version mid-stream of repeated
    // queryDF calls — the memoized membership set, the cached bucket
    // packs and the adaptive-loop state (swapPackedAllowedState) must
    // all be version-scoped, so every batch sees exactly the rows the
    // filter matches at that version
    val s = freshStore(4)
    import spark.implicits._
    def batch(ids: Seq[String]) = ids.map { id =>
      (id, Array(1f, 0f, 0f, 0f), s"""{"g": "x"}""")
    }.toDF("_id_", "vector", "meta")
    s.upsertDF(batch(Seq("x000", "x001", "x002")))
    s.enableAnn(nList = 2)
    spark.conf.set("graft.ann.filtered", "true")
    try {
      val qdf = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("qid", "qvec")
      val whereX = Some(get_json_object(col("meta"), "$.g") === "x")
      def hitIds(): Seq[String] =
        s.queryDF(qdf, "qid", "qvec", 10, where = whereX, nProbe = 2)
          .select("_id_").collect().map(_.getString(0)).sorted.toSeq
      assert(hitIds() == Seq("x000", "x001", "x002"))
      assert(s.lastQueryStrategy.contains("ann-filtered"))
      assert(s.lastFilterMemberSource == "built")
      assert(hitIds() == Seq("x000", "x001", "x002"))
      assert(s.lastFilterMemberSource == "cached")
      // micro-batches 2..4: each swap must invalidate the memo AND the
      // new row must be findable through the bulk facade immediately
      (3 to 5).foreach { n =>
        s.upsertDF(batch(Seq(f"x$n%03d")))
        val want = (0 to n).map(i => f"x$i%03d")
        assert(hitIds() == want,
          s"stale bulk state after micro-batch swap at n=$n")
        assert(s.lastFilterMemberSource == "built",
          "a version swap must invalidate the memoized membership set")
      }
      // deletes swap versions too; the bulk facade tracks them
      s.delete(Seq("x000"))
      assert(hitIds() == (1 to 5).map(i => f"x$i%03d"))
    } finally {
      spark.conf.unset("graft.ann.filtered")
      s.disableAnn()
    }
  }

  test("bulk filtered+q8 routing is opt-in (round 19): queryDF defaults to the fp32 twin; graft.ann.filtered.bulkq8 composes int8") {
    // VERDICT r18 "what's wrong" #3: the bulk int8 filtered twin
    // measured SLOWER than its fp32 sibling at fp32-resident scale
    // (10M: 33.0 s vs 23.8 s min), so enableQ8() alone must not
    // downgrade a bulk filtered query — the composition is an explicit
    // opt-in, telemetry-visible, and result-equal at covering
    // probes+overfetch. The driver-batch query() keeps its own routing.
    val s = freshStore(8)
    s.upsert(TestFixtures.twoClusterRecs(seed = 61))
    import spark.implicits._
    val qdf = Seq((0L, { val v = new Array[Float](8); v(0) = 1f; v }))
      .toDF("qid", "qvec")
    val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
    spark.conf.set("graft.query.exact", "true")
    spark.conf.set("graft.ann.filtered", "true")
    spark.conf.set("graft.q8.overfetch", "16") // 5*16=80 >= 60 matches
    s.enableAnn(nList = 4)
    s.enableQ8()
    def canonDF(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getString(1),
        math.rint(r.getDouble(2) * 1e9)))
      .toSeq.sortBy(t => (t._1, t._2))
    try {
      val viaDefault = canonDF(
        s.queryDF(qdf, "qid", "qvec", 5, where = whereB, nProbe = 4))
      assert(s.lastQueryStrategy.contains("ann-filtered") &&
        !s.lastQueryStrategy.exists(_.contains("+q8")),
        s"bulk default routed ${s.lastQueryStrategy}; q8 must be opt-in here")
      spark.conf.set("graft.ann.filtered.bulkq8", "true")
      val viaQ8 = canonDF(
        s.queryDF(qdf, "qid", "qvec", 5, where = whereB, nProbe = 4))
      assert(s.lastQueryStrategy.contains("ann-filtered+q8"),
        s"opt-in routed ${s.lastQueryStrategy} instead of ann-filtered+q8")
      assert(viaQ8 == viaDefault,
        "opt-in int8 composition must match the fp32 twin at covering probes+overfetch")
      // the knob does NOT gate the driver-batch composition (its own
      // measured win): query() still routes ann-filtered+q8 regardless
      spark.conf.unset("graft.ann.filtered.bulkq8")
      s.query(Seq({ val v = new Array[Float](8); v(0) = 1f; v }), topK = 5,
        where = whereB, nProbe = 4)
      assert(s.lastQueryStrategy.contains("ann-filtered+q8"),
        s"driver batch routed ${s.lastQueryStrategy}; the bulk knob must not gate it")
    } finally {
      Seq("graft.query.exact", "graft.ann.filtered", "graft.q8.overfetch",
        "graft.ann.filtered.bulkq8").foreach(spark.conf.unset)
      s.disableQ8(); s.disableAnn()
    }
  }

  test("queryDF bloom rung releases per-call persisted state under the latest-call slot (round 19 soak)") {
    // VERDICT r18 "what's wrong" #2 / ADVICE r18: the bloom branch's
    // surrogate-rowkeys RDD (and any refill-qid frame) was persisted and
    // left to the ContextCleaner. The latest-call slot must hold at most
    // ONE call's pins across repeated bloom bulk calls, and a non-bloom
    // call must release the last bloom call's state entirely.
    val s = freshStore(8)
    s.upsert(TestFixtures.twoClusterRecs(seed = 67))
    import spark.implicits._
    val qdf = Seq((0L, { val v = new Array[Float](8); v(0) = 1f; v }))
      .toDF("qid", "qvec")
    val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
    spark.conf.set("graft.ann.filtered", "true")
    spark.conf.set("graft.ann.filtered.max", "2") // both sets overflow -> bloom
    // brutal fpp + overfetch 1 so refills actually happen and the
    // refill-qid frame takes the persisted path too
    spark.conf.set("graft.ann.filtered.bloom.fpp", "0.4")
    spark.conf.set("graft.ann.filtered.bloom.overfetch", "1")
    s.enableAnn(nList = 4)
    def rowkeysHeld(): Int = spark.sparkContext.getPersistentRDDs.values
      .count(_.name == "graft.querydf.bloom.rowkeys")
    try {
      def call(): Unit = {
        val out = s.queryDF(qdf, "qid", "qvec", 5, where = whereB, nProbe = 4)
        out.collect()
        assert(s.lastQueryStrategy.exists(_.endsWith("+bloom")),
          s"expected a bloom route, got ${s.lastQueryStrategy}")
        // intermediates (rowkeys RDD, refill-qid frame) release INSIDE
        // the call, the moment the result materializes — nothing waits
        // for the next call or the ContextCleaner
        assert(rowkeysHeld() == 0,
          "bloom rowkeys must be released in-call after materialization")
        // the slot pins exactly the latest call's materialized result
        // (a global getPersistentRDDs count would race parallel suites)
        assert(s.bloomBulkHeldCount == 1,
          s"slot should pin exactly the latest result, holds ${s.bloomBulkHeldCount}")
      }
      (1 to 6).foreach(_ => call())
      // a later NON-bloom bulk call supersedes the pinned result too
      spark.conf.unset("graft.ann.filtered.max")
      s.queryDF(qdf, "qid", "qvec", 5, where = whereB, nProbe = 4).collect()
      assert(s.lastQueryStrategy.exists(st => !st.contains("bloom")))
      assert(s.bloomBulkHeldCount == 0,
        "a non-bloom bulk call must release the previous bloom call's pin")
      assert(rowkeysHeld() == 0)
    } finally {
      Seq("graft.ann.filtered", "graft.ann.filtered.max",
        "graft.ann.filtered.bloom.fpp",
        "graft.ann.filtered.bloom.overfetch").foreach(spark.conf.unset)
      s.disableAnn()
    }
  }

  test("filtered-accelerator memo is store-version-scoped across micro-batch-style swaps (round 17 soak)") {
    // the streaming x filtered-ANN interaction: every upsertDF swap
    // bumps the store version, so a memoized membership set from the
    // previous micro-batch must NEVER serve the next one (it would
    // silently drop rows the new batch added to the filter's match set)
    val s = freshStore(4)
    import spark.implicits._
    def batch(ids: Seq[String]) = ids.map { id =>
      (id, Array(1f, 0f, 0f, 0f), s"""{"g": "x"}""")
    }.toDF("_id_", "vector", "meta")
    s.upsertDF(batch(Seq("x000", "x001", "x002")))
    s.enableAnn(nList = 2)
    spark.conf.set("graft.ann.filtered", "true")
    try {
      val q = Array(1f, 0f, 0f, 0f)
      val whereX = Some(get_json_object(col("meta"), "$.g") === "x")
      val h1 = s.query(Seq(q), topK = 10, where = whereX, nProbe = 2).head
      assert(s.lastFilterMemberSource == "built")
      assert(h1.size == 3)
      val h1b = s.query(Seq(q), topK = 10, where = whereX, nProbe = 2).head
      assert(s.lastFilterMemberSource == "cached")
      assert(h1b.size == 3)
      // micro-batch 2 adds a matching row: the memo must rebuild and
      // the new row must be findable immediately
      s.upsertDF(batch(Seq("x003")))
      val h2 = s.query(Seq(q), topK = 10, where = whereX, nProbe = 2).head
      assert(s.lastFilterMemberSource == "built",
        "a version swap must invalidate the memoized membership set")
      assert(h2.size == 4 && h2.exists(_.id == "x003"),
        s"stale membership served after a micro-batch swap: ${h2.map(_.id)}")
      // and the rebuilt set memoizes again for the next steady batch
      s.query(Seq(q), topK = 10, where = whereX, nProbe = 2)
      assert(s.lastFilterMemberSource == "cached")
    } finally {
      spark.conf.unset("graft.ann.filtered")
      s.disableAnn()
    }
  }

  test("filtered-accelerator memo skips UDF-backed and ambiguous-id filters (ADVICE r16)") {
    val s = freshStore(4)
    s.upsert(Seq(
      rec("a,b", Array(1f, 0f, 0f, 0f), """{"n": 1}"""),
      rec("a", Array(0.9f, 0.1f, 0f, 0f), """{"n": 2}"""),
      rec("b", Array(0.8f, 0.2f, 0f, 0f), """{"n": 3}"""),
      rec("c", Array(0f, 1f, 0f, 0f), """{"n": 4}""")))
    s.enableAnn(nList = 2)
    spark.conf.set("graft.ann.filtered", "true")
    try {
      val q = Array(1f, 0f, 0f, 0f)
      // two DIFFERENT UDF closures whose Columns render identically
      // ("UDF(meta)"): memoizing either would serve the wrong set to
      // the other — both must skip the memo entirely
      val u1 = udf((m: String) => m != null && m.contains("1"))
      val u2 = udf((m: String) => m != null && m.contains("4"))
      val h1 = s.query(Seq(q), topK = 4, where = Some(u1(col("meta")))).head
      assert(s.lastFilterMemberSource == "built")
      val h2 = s.query(Seq(q), topK = 4, where = Some(u2(col("meta")))).head
      assert(s.lastFilterMemberSource == "built",
        "a UDF-backed where must never serve a memoized membership set")
      assert(h1.map(_.id) == Seq("a,b") && h2.map(_.id) == Seq("c"),
        s"UDF filters crossed: ${h1.map(_.id)} / ${h2.map(_.id)}")
      // id lists that would collide under naive comma-joining must not
      // share a memo entry: Seq("a,b") vs Seq("a", "b")
      val hAB = s.query(Seq(q), topK = 4, ids = Some(Seq("a,b"))).head
      val hA_B = s.query(Seq(q), topK = 4, ids = Some(Seq("a", "b"))).head
      assert(hAB.map(_.id) == Seq("a,b"), s"got ${hAB.map(_.id)}")
      assert(hA_B.map(_.id).toSet == Set("a", "b"), s"got ${hA_B.map(_.id)}")
    } finally {
      spark.conf.unset("graft.ann.filtered")
      s.disableAnn()
    }
  }

  test("filtered-ANN q8 composition: quantized filtered scan + fp32 rescore, exact at covering probes+overfetch, adaptive, bloom-composable") {
    val s = freshStore(8)
    val rng = new scala.util.Random(13)
    def mk(base: Int, tag: String) = (0 until 60).map { i =>
      val v = new Array[Float](8)
      v(base) = 1f
      (0 until 8).foreach(j => v(j) = v(j) + (rng.nextFloat() - 0.5f) * 0.05f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      rec(f"$tag$i%03d", v.map(x => (x / n).toFloat), s"""{"c": "$tag"}""")
    }
    s.upsert(mk(0, "a") ++ mk(4, "b"))
    spark.conf.set("graft.query.exact", "true")
    spark.conf.set("graft.ann.filtered", "true")
    // covering overfetch: k * 16 = 80 >= the 60 matching rows, so the
    // int8 candidate cut cannot drop a true hit (the q84 argument)
    spark.conf.set("graft.q8.overfetch", "16")
    try {
      val q = { val v = new Array[Float](8); v(0) = 1f; v }
      val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
      s.enableAnn(nList = 4)
      s.enableQ8()
      spark.conf.unset("graft.ann.filtered")
      val exactB = s.queryOne(q, topK = 5, where = whereB)
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      spark.conf.set("graft.ann.filtered", "true")
      // routed through the composed scan, bit-equal at covering
      // probes + covering overfetch (the rescore is always double)
      val composed = s.query(Seq(q), topK = 5, where = whereB, nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann-filtered+q8"))
      assert(composed.map(h => (h.id, h.metrics)) ==
        exactB.map(h => (h.id, h.metrics)))
      // the adaptive refill holds through the composition
      val adaptive = s.query(Seq(q), topK = 5, where = whereB, nProbe = 1).head
      assert(adaptive.size == 5)
      assert(s.lastAnnFilteredPasses > 1)
      // bloom rung composes too: both exact sets over a tiny cap
      spark.conf.set("graft.ann.filtered.max", "2")
      val bloomQ8 = s.query(Seq(q), topK = 5, where = whereB, nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann-filtered+q8+bloom"))
      assert(bloomQ8.map(h => (h.id, h.metrics)) ==
        exactB.map(h => (h.id, h.metrics)))
      spark.conf.unset("graft.ann.filtered.max")
      // tearing q8 down falls back to the fp32 filtered scan
      s.disableQ8()
      s.query(Seq(q), topK = 5, where = whereB, nProbe = 4)
      assert(s.lastQueryStrategy.contains("ann-filtered"))
      assert(!s.lastQueryStrategy.get.contains("+q8"))
    } finally {
      Seq("graft.query.exact", "graft.ann.filtered", "graft.q8.overfetch",
        "graft.ann.filtered.max").foreach(spark.conf.unset)
    }
  }

  test("filtered-ANN bloom rung: constant-size broadcast at both-sets-overflow, FP drops verified, exact refill") {
    val s = freshStore(8)
    // the adversarial fixture for Bloom false positives: the query
    // points AT cluster a while the filter admits only cluster b — so
    // every a-row the Bloom lets through scores ~1.0 and lands ON TOP
    // of the candidate heap, forcing the verification drop (and, at
    // overfetch 1, the exact refill) to do real work
    val rng = new scala.util.Random(11)
    def mk(base: Int, tag: String) = (0 until 60).map { i =>
      val v = new Array[Float](8)
      v(base) = 1f
      (0 until 8).foreach(j => v(j) = v(j) + (rng.nextFloat() - 0.5f) * 0.05f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      rec(f"$tag$i%03d", v.map(x => (x / n).toFloat), s"""{"c": "$tag"}""")
    }
    s.upsert(mk(0, "a") ++ mk(4, "b"))
    spark.conf.set("graft.query.exact", "true")
    spark.conf.set("graft.ann.filtered", "true")
    // matches 60 > 2 and complement 60 > 2: both exact sets overflow
    spark.conf.set("graft.ann.filtered.max", "2")
    // a brutal fpp so false positives are guaranteed, not incidental
    spark.conf.set("graft.ann.filtered.bloom.fpp", "0.4")
    try {
      val q = { val v = new Array[Float](8); v(0) = 1f; v }
      val whereB = Some(get_json_object(col("meta"), "$.c") === "b")
      s.enableAnn(nList = 4)
      spark.conf.unset("graft.ann.filtered")
      val exactB = s.queryOne(q, topK = 5, where = whereB)
      assert(s.lastQueryStrategy.contains("exact-filtered"))
      spark.conf.set("graft.ann.filtered", "true")
      // covering probes: verified-take-k (plus refill when FPs evict)
      // IS the exact filtered top-k — bit-equal under query.exact
      val bloomHits = s.query(Seq(q), topK = 5, where = whereB, nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann-filtered+bloom"))
      assert(bloomHits.map(h => (h.id, h.metrics)) ==
        exactB.map(h => (h.id, h.metrics)))
      // overfetch 1: any false positive in the top-k evicts a true row
      // — the refill path must fire and still land on the exact result
      spark.conf.set("graft.ann.filtered.bloom.overfetch", "1")
      val refilled = s.query(Seq(q), topK = 5, where = whereB, nProbe = 4).head
      assert(s.lastQueryStrategy.contains("ann-filtered+bloom"))
      assert(s.lastBloomRefillCount > 0,
        "the a-scoring false positives must have evicted true rows at overfetch 1")
      assert(refilled.map(h => (h.id, h.metrics)) ==
        exactB.map(h => (h.id, h.metrics)))
      spark.conf.unset("graft.ann.filtered.bloom.overfetch")
      // rung disabled: both-overflow falls back to the exact scan
      spark.conf.set("graft.ann.filtered.bloom", "false")
      s.query(Seq(q), topK = 5, where = whereB, nProbe = 4)
      assert(s.lastQueryStrategy.contains("exact-filtered"))
    } finally {
      Seq("graft.query.exact", "graft.ann.filtered", "graft.ann.filtered.max",
        "graft.ann.filtered.bloom", "graft.ann.filtered.bloom.fpp",
        "graft.ann.filtered.bloom.overfetch").foreach(spark.conf.unset)
    }
  }

  test("hnsw strategy: routed, outranks ann, bypassed like ANN, dirtied by mutation") {
    val s = freshStore(8)
    // well-separated unit rows (the IvfIndexSpec fixture idea): graph
    // search at modest ef is exact-equal here
    val rng = new scala.util.Random(9)
    val recs = (0 until 120).map { i =>
      val v = new Array[Float](8)
      v(i % 4 * 2) = 1f
      (0 until 8).foreach(j => v(j) = v(j) + (rng.nextFloat() - 0.5f) * 0.05f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      rec(f"h$i%03d", v.map(x => (x / n).toFloat), s"""{"g": ${i % 4}}""")
    }
    s.upsert(recs)
    val q = recs(30).vector
    val exact = s.queryOne(q, topK = 5)
    assert(s.lastQueryStrategy.contains("exact"))
    s.enableHnsw()
    val viaGraph = s.queryOne(q, topK = 5, efSearch = 64)
    assert(s.lastQueryStrategy.contains("hnsw"))
    assert(viaGraph.map(_.id) == exact.map(_.id),
      s"graph hits ${viaGraph.map(_.id)} vs exact ${exact.map(_.id)}")
    // graph outranks IVF when both are on
    s.enableAnn(nList = 4)
    s.queryOne(q, topK = 3)
    assert(s.lastQueryStrategy.contains("hnsw"))
    s.disableAnn()
    // O28 bypass rules: filters and better_than take the exact path
    s.queryOne(q, topK = 3, where = Some(get_json_object(col("meta"), "$.g") === "1"))
    assert(s.lastQueryStrategy.contains("exact-filtered"))
    s.queryOne(q, topK = 3, betterThan = Some(0.1))
    assert(s.lastQueryStrategy.contains("exact"))
    // mutation invalidates the cached graphs: the new row is findable
    val nv = new Array[Float](8); nv(1) = 1f
    s.upsert(Seq(rec("fresh", nv, """{"g": 9}""")))
    val after = s.queryOne(nv, topK = 1)
    assert(s.lastQueryStrategy.contains("hnsw"))
    assert(after.head.id == "fresh")
    // re-enabling with DIFFERENT params rebuilds (cache keys on both
    // version and (m, efC) — review r13): hnsw_refresh re-times
    val tBefore = s.lastTimings.get("hnsw_refresh")
    s.queryOne(q, topK = 3) // same params: cache hit, no re-time
    assert(s.lastTimings.get("hnsw_refresh") == tBefore)
    s.enableHnsw(m = 8, efConstruction = 40)
    s.queryOne(q, topK = 3)
    assert(s.lastTimings.get("hnsw_refresh") != tBefore,
      "param change must rebuild the graphs")
    s.disableHnsw()
    s.queryOne(q, topK = 3)
    assert(s.lastQueryStrategy.contains("exact"))
  }

  test("a queryDF frame over a refreshed graph store collects again after a later refresh") {
    val s = freshStore(8)
    val rng = new scala.util.Random(17)
    def unit(): Array[Float] = {
      val v = Array.fill(8)(rng.nextFloat() - 0.5f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    s.upsert((0 until 120).map(i => rec(f"h$i%03d", unit(), s"""{"g": ${i % 4}}""")))
    s.enableHnsw(m = 8, efConstruction = 40)
    val q = unit()
    s.queryOne(q, topK = 3)
    assert(s.hnswLastRebuildMode == "full")
    // an upsert and a query: the graph store is now a refreshed one,
    // whose shards are locally checkpointed
    s.upsert(Seq(rec("h007", unit()), rec("n1", unit())))
    s.queryOne(q, topK = 3)
    assert(s.hnswLastRebuildMode == "incremental")
    import spark.implicits._
    val qdf = Seq((1L, q), (2L, unit())).toDF("qid", "qvec")
    def rows(frame: org.apache.spark.sql.DataFrame): Seq[(Long, String, Double, Int)] =
      frame.select(col("qid"), col("_id_"), col("score"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
        .sortBy(r => (r._1, r._4)).toSeq
    // two frames over the same store: one collected now, one not yet
    val later = s.queryDF(qdf, "qid", "qvec", topK = 5)
    val first = rows(s.queryDF(qdf, "qid", "qvec", topK = 5))
    assert(s.lastQueryStrategy.contains("hnsw"))
    assert(first.length == 10)
    // a later write and query supersede the frames' graph store
    s.upsert(Seq(rec("h011", unit()), rec("n2", unit())))
    s.queryOne(q, topK = 3)
    assert(s.hnswLastRebuildMode == "incremental")
    assert(rows(later) == first, "a superseded frame must collect the rows of its store")
    assert(rows(later) == first, "and collect them again")
  }

  test("localReplica: in-process queryOne/get match the distributed store; snapshot semantics") {
    val rng = new scala.util.Random(77)
    val s = freshStore(dim = 16)
    val recs = (0 until 300).map { i =>
      rec(f"r$i%04d", Array.fill(16)(rng.nextFloat() - 0.5f),
        if (i % 3 == 0) s"""{"g": ${i % 5}}""" else null)
    }
    s.upsert(recs)
    val rep = s.localReplica()
    assert(rep.size == 300 && rep.nList == 0) // no ANN enabled -> exact-only
    val queries = (0 until 5).map(_ => Array.fill(16)(rng.nextFloat() - 0.5f))
    queries.foreach { q =>
      val want = s.queryOne(q, topK = 7)
      val got = rep.queryOne(q, topK = 7)
      assert(got.map(h => (h.id, h.metrics)) == want.map(h => (h.id, h.metrics)))
      assert(got.map(_.metaJson) == want.map(_.metaJson))
      // better_than threshold parity too
      val wantT = s.queryOne(q, topK = 7, betterThan = Some(0.2))
      val gotT = rep.queryOne(q, topK = 7, betterThan = Some(0.2))
      assert(gotT.map(h => (h.id, h.metrics)) == wantT.map(h => (h.id, h.metrics)))
    }
    // point lookup parity (get shape), vector round-trips normalized
    val g = rep.get("r0003", includeVector = true).get
    val dg = s.get(Seq("r0003"), includeVector = true).head
    assert(g.metaJson == dg.metaJson)
    assert(g.vector.get.toSeq == dg.vector.get.toSeq)
    assert(rep.get("nope").isEmpty)
    // snapshot: a later upsert does not flow into the cut replica
    val v0 = rep.version
    s.upsert(Seq(rec("late", Array.fill(16)(0.1f))))
    assert(rep.get("late").isEmpty && rep.size == 300)
    assert(s.localReplica().version > v0) // staleness detectable
    // ANN-carrying replica: nProbe=nList scan equals the exact scan
    s.enableAnn(nList = 8)
    val repA = s.localReplica()
    assert(repA.nList == 8)
    val q = queries.head
    assert(repA.queryOne(q, topK = 5, nProbe = 8).map(_.id) ==
      repA.queryOne(q, topK = 5).map(_.id))
    // pruned probes return a subset-quality ranking with sane scores
    val pruned = repA.queryOne(q, topK = 5, nProbe = 2)
    assert(pruned.nonEmpty && pruned.map(_.metrics).sliding(2).forall {
      case Seq(a, b) => a >= b; case _ => true
    })
    // filtered serving (round 16): whereFn pushes into the slab scan
    // and matches the store's filtered exact path hit-for-hit; nProbe
    // is ignored under a filter (the O28 default mirrored)
    val fn = (id: String, meta: String) => meta != null && meta.contains("\"g\": 2")
    val wantF = s.queryOne(q, topK = 5, whereFn = Some(fn))
    val gotF = repA.queryOne(q, topK = 5, whereFn = Some(fn))
    assert(gotF.map(h => (h.id, h.metrics)) == wantF.map(h => (h.id, h.metrics)))
    assert(repA.queryOne(q, topK = 5, nProbe = 1, whereFn = Some(fn))
      .map(h => (h.id, h.metrics)) == wantF.map(h => (h.id, h.metrics)),
      "a filtered replica query must ignore probe pruning")
    // filter + threshold compose
    val thr = wantF.headOption.map(_.metrics).getOrElse(0.0)
    val gotFT = repA.queryOne(q, topK = 5, betterThan = Some(thr), whereFn = Some(fn))
    assert(gotFT.map(_.id) == wantF.filter(_.metrics >= thr).map(_.id))
    // bound enforced
    intercept[IllegalArgumentException](s.localReplica(maxRows = 10))
  }
}
