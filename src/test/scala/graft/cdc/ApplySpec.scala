package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** CDC apply — replica materialization from the change stream (SCD1/SCD2). */
class ApplySpec extends SparkSpec {

  // (pk, seq, status, qty): key 1 insert→update, key 2 insert→delete,
  // key 3 delete→re-insert, key 4 single insert
  private def changes = {
    import spark.implicits._
    Seq(
      (1L, 10L, false, "a", 5L), (1L, 20L, false, "b", 6L),
      (2L, 11L, false, "a", 7L), (2L, 21L, true, null.asInstanceOf[String], 0L),
      (3L, 12L, true, null.asInstanceOf[String], 0L), (3L, 22L, false, "c", 8L),
      (4L, 13L, false, "d", 9L)
    ).toDF("pk", "seq", "del", "status", "qty")
  }

  test("latestState: last writer wins, deletes tombstone, re-insert revives") {
    val out = Apply.latestState(changes.drop("del"), Seq("pk"), "seq",
        pmod(col("seq"), lit(2)) === 1) // odd seq = delete in this fixture
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    // fixture above uses explicit del flags; rebuild with the flag column instead
    val byFlag = Apply.latestState(changes, Seq("pk"), "seq", col("del"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3), r.getLong(4))).toSet
    assert(byFlag === Set(
      (1L, 20L, false, "b", 6L),   // update won
      (3L, 22L, false, "c", 8L),   // re-insert after delete revives the key
      (4L, 13L, false, "d", 9L))); // single insert
    // key 2 tombstoned; `out` (odd-seq-as-delete variant) sanity: key 2's
    // seq-21 delete wins there too
    assert(!out.exists(_._1 == 2L))
  }

  test("latestState plan: partial max_by before the exchange, no window/sort") {
    val plan = Apply.latestState(changes, Seq("pk"), "seq", col("del"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("max_by"), plan)
    assert(!plan.toLowerCase.contains("window"), "SCD1 must not plan a window")
    assert(plan.contains("partial_max_by"), s"expected map-side combined max_by in:\n$plan")
  }

  test("history: validity intervals, deletes close but emit no row") {
    val out = Apply.history(changes, Seq("pk"), "seq", col("del"))
      .select("pk", "valid_from", "valid_to", "is_current", "status")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3), r.getString(4))).toSet
    assert(out === Set(
      (1L, 10L, 20L, false, "a"),  // superseded by the update
      (1L, 20L, -1L, true, "b"),   // open interval = current
      (2L, 11L, 21L, false, "a"),  // closed by the delete; delete emits nothing
      (3L, 22L, -1L, true, "c"),
      (4L, 13L, -1L, true, "d")))
  }

  test("latestStateStream: cross-batch upsert/delete transitions, replay-safe") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long, Boolean, String, Long)]
    val q = Apply.latestStateStream(
        in.toDF().toDF("pk", "seq", "del", "status", "qty"), Seq("pk"), "seq", "del")
      .writeStream.format("memory").queryName("cdc_apply").outputMode(OutputMode.Update()).start()
    try {
      in.addData((1L, 10L, false, "a", 5L), (1L, 20L, false, "b", 6L), (2L, 11L, false, "a", 7L))
      q.processAllAvailable()
      // batch 1: key 1 conflates to its seq-20 state, key 2 inserts
      val b1 = spark.table("cdc_apply").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(4))).toSet
      assert(b1 === Set((1L, 20L, "b", false), (2L, 11L, "a", false)))

      // batch 2: delete key 2, replay key 1's old change (must be ignored)
      in.addData((2L, 21L, true, null.asInstanceOf[String], 0L), (1L, 10L, false, "a", 5L))
      q.processAllAvailable()
      val b2 = spark.table("cdc_apply").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) null else r.getString(2), r.getBoolean(4))).toSet
      assert(b2.contains((2L, 21L, null, true)), s"delete tombstone emitted: $b2")
      assert(!b2.contains((1L, 10L, "a", false)), "stale replayed change must not regress key 1")
    } finally q.stop()
  }

  test("latestStateStream: composite string keys with spaces/nulls never share state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // Four DISTINCT composite keys that collide under naive separator-joined
    // String.valueOf: ("a b","c") vs ("a","b c"), and (null,"x") vs ("null","x").
    val in = MemoryStream[(String, String, Long, Boolean, Long)]
    val q = Apply.latestStateStream(
        in.toDF().toDF("k1", "k2", "seq", "del", "qty"), Seq("k1", "k2"), "seq", "del")
      .writeStream.format("memory").queryName("cdc_apply_keys").outputMode(OutputMode.Update()).start()
    try {
      // batch 1: the high-seq twin of each colliding pair arrives FIRST, so a
      // collision would make the state swallow the low-seq twin in batch 2
      in.addData(("a b", "c", 100L, false, 1L), (null, "x", 200L, false, 3L))
      q.processAllAvailable()
      in.addData(("a", "b c", 10L, false, 2L), ("null", "x", 20L, false, 4L))
      q.processAllAvailable()
      val rows = spark.table("cdc_apply_keys").collect()
        .map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows === Set(
        (Some("a b"), "c", 100L, 1L),
        (Some("a"), "b c", 10L, 2L),   // swallowed if ("a b","c") shared its state
        (None, "x", 200L, 3L),
        (Some("null"), "x", 20L, 4L)), // swallowed if (null,"x") shared its state
        s"cross-key state bleed: $rows")

      // and per-key ordering still holds within a real (non-colliding) key
      in.addData(("a b", "c", 50L, false, 9L)) // stale for ITS OWN key only
      q.processAllAvailable()
      val after = spark.table("cdc_apply_keys").collect()
        .map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2))).toSet
      assert(!after.contains((Some("a b"), "c", 50L)), "stale change must still be ignored")
    } finally q.stop()
  }

  test("latestStateStream: BINARY(16) primary keys dedup by VALUE across row " +
    "objects; non-atomic key types refuse loudly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // A MySQL BINARY(16) UUID PK surfaces as Array[Byte], whose JVM toString
    // is identity-based — before the hex path in encodeKey, equal keys in
    // different row objects fragmented into distinct state entries (stale
    // changes applied, tombstones never suppressed). Equal VALUES must share
    // state; the test feeds the same 16 bytes as fresh arrays per batch.
    def uuid(b: Int): Array[Byte] = Array.tabulate[Byte](16)(i => (b + i).toByte)
    val in = MemoryStream[(Array[Byte], Long, Boolean, Long)]
    val q = Apply.latestStateStream(
        in.toDF().toDF("pk", "seq", "del", "qty"), Seq("pk"), "seq", "del")
      .writeStream.format("memory").queryName("cdc_apply_bin")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((uuid(1), 20L, false, 5L), (uuid(2), 11L, false, 7L))
      q.processAllAvailable()
      // fresh array objects, same values: stale replay ignored, delete lands
      in.addData((uuid(1), 10L, false, 99L), (uuid(2), 21L, true, 0L))
      q.processAllAvailable()
      val rows = spark.table("cdc_apply_bin").collect()
        .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1), r.getBoolean(3)))
      // key 1: only the seq-20 state may exist; the seq-10 replay must be
      // suppressed BY THE SHARED STATE (with fragmented state it would emit)
      assert(!rows.contains((uuid(1).toSeq, 10L, false)),
        s"stale change emitted — binary key fragmented state: $rows")
      // key 2: the tombstone must have won against the same-value state
      assert(rows.contains((uuid(2).toSeq, 21L, true)), s"no tombstone: $rows")
    } finally q.stop()

    // non-atomic key types have no value-based rendering at all: refuse
    val arrKeyed = Seq((Seq("a", "b"), 1L, false, 1L))
      .toDF("pk", "seq", "del", "qty")
    val e = intercept[IllegalArgumentException] {
      Apply.latestStateStream(arrKeyed, Seq("pk"), "seq", "del")
    }
    assert(e.getMessage.contains("non-atomic"), e.getMessage)
  }

  test("encodeKey: binary parts hex-encode by value — equal bytes equal keys, " +
    "no collision with the look-alike string") {
    import org.apache.spark.sql.Row
    def enc(parts: Any*): String = Apply.encodeKey(Row.fromSeq(parts), parts.length)
    val a1 = Array[Byte](0x31, 0x32) // bytes of the ASCII text "12"
    val a2 = Array[Byte](0x31, 0x32)
    assert(enc(a1) === enc(a2), "equal binary values must encode equally")
    assert(enc(a1) !== enc("12"), "binary 0x3132 must not collide with string \"12\"")
    assert(enc(Array.emptyByteArray) !== enc(""), "empty binary vs empty string")
    assert(enc(Array[Byte](0, 1)) !== enc(Array[Byte](0, 2)))
    // prefix-freedom holds across mixed composites too
    assert(enc(a1, "x") !== enc("12", "x"))
  }

  test("encodeKey is injective over tricky composites (prefix-free, null-safe)") {
    import org.apache.spark.sql.Row
    def enc(parts: Any*): String = Apply.encodeKey(Row.fromSeq(parts), parts.length)
    val tricky = Seq(
      Seq("a b", "c"), Seq("a", "b c"), Seq("a", "b", "c"),
      Seq(null, "x"), Seq("null", "x"), Seq("N", "x"), Seq("", "x"), Seq("x", ""),
      Seq("1:a", "b"), Seq("1", ":ab"), Seq("12", "ab"), Seq("1", "2ab"),
      Seq("a\u0000b", "c"), Seq("a", "\u0000bc"))
    val encoded = tricky.map(p => enc(p: _*))
    assert(encoded.distinct.length === tricky.length,
      s"collision among: ${tricky.zip(encoded).mkString("; ")}")
    // null must not collide with the string "null"
    assert(enc(null.asInstanceOf[String]) !== enc("null"))
  }

  test("encodeKey property: injective over random composite string/null keys") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.Row
    // adversarial alphabet: digits, ':', 'N', spaces, empty — the exact
    // characters the length-prefix encoding must disambiguate
    val partGen: Gen[String] = Gen.oneOf(
      Gen.const(null.asInstanceOf[String]),
      Gen.listOf(Gen.oneOf('0', '1', '9', ':', 'N', ' ', 'a')).map(_.mkString))
    val keyGen: Gen[List[String]] = for {
      n <- Gen.chooseNum(1, 4)
      parts <- Gen.listOfN(n, partGen)
    } yield parts
    val p = Prop.forAll(keyGen, keyGen) { (a, b) =>
      val sameWidth = a.length == b.length
      val ea = Apply.encodeKey(Row.fromSeq(a), a.length)
      val eb = Apply.encodeKey(Row.fromSeq(b), b.length)
      // same-width contract (the operator always encodes a fixed keyCols
      // width): distinct tuples must encode distinctly, equal ones equally
      !sameWidth || ((a == b) == (ea == eb))
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(r.passed, s"encodeKey injectivity property failed: $r")
  }

  test("encodeKey property: injective over random MIXED string/binary/null composites") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.Row
    // parts drawn from the adversarial alphabet PLUS byte arrays whose bytes
    // spell look-alike ASCII (digits, ':', 'B', 'N') — the exact shapes the
    // three-way (digit/'N'/'B') prefix coding must keep apart
    val strGen: Gen[Any] = Gen.oneOf(
      Gen.const(null),
      Gen.listOf(Gen.oneOf('0', '1', '9', ':', 'N', 'B', 'a')).map(_.mkString))
    val binGen: Gen[Any] =
      Gen.listOf(Gen.oneOf(Seq[Byte](0x30, 0x31, 0x39, 0x3A, 0x42, 0x4E, 0x00, -1)))
        .map(_.toArray)
    val keyGen: Gen[List[Any]] = for {
      n <- Gen.chooseNum(1, 4)
      parts <- Gen.listOfN(n, Gen.oneOf(strGen, binGen))
    } yield parts
    def canon(p: Any): Any = p match {
      case b: Array[Byte] => ("bin", b.toSeq) // value equality for arrays
      case s => ("str", s)
    }
    val p = Prop.forAll(keyGen, keyGen) { (a, b) =>
      val sameWidth = a.length == b.length
      val ea = Apply.encodeKey(Row.fromSeq(a), a.length)
      val eb = Apply.encodeKey(Row.fromSeq(b), b.length)
      !sameWidth || ((a.map(canon) == b.map(canon)) == (ea == eb))
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(r.passed, s"mixed-type encodeKey injectivity failed: $r")
  }

  test("deltaAggregate: signed before/after contributions, group-moving update") {
    import spark.implicits._
    // (before(status,qty), after(status,qty)): insert A+5, update A6→B8 (moves
    // group), update B3→B4 (stays), delete A9
    val changes = Seq(
      (None, Some(("A", 5L))),
      (Some(("A", 6L)), Some(("B", 8L))),
      (Some(("B", 3L)), Some(("B", 4L))),
      (Some(("A", 9L)), None)
    ).toDF("before", "after")
      .selectExpr("named_struct('status', before._1, 'qty', before._2) AS b0",
        "named_struct('status', after._1, 'qty', after._2) AS a0")
      .selectExpr("if(b0.status IS NULL, NULL, b0) AS before",
        "if(a0.status IS NULL, NULL, a0) AS after")
    val out = Apply.deltaAggregate(changes, Seq("status"), "qty")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map("A" -> (-1L, -10L), "B" -> (1L, 9L)))
    // A: +insert(1,+5) −update-before(1,6) −delete(1,9) = (−1, −10)
    // B: +update-after(1,+8) −before(1,3) +after(1,4) = (+1, +9)
  }

  test("deltaAggregate ≡ post-state minus pre-state (IVM consistency)") {
    import spark.implicits._
    // pre-state rows and a change batch applied to them
    val pre = Seq(("A", 10L), ("A", 20L), ("B", 30L)).toDF("status", "qty")
    // delete (A,10); update (B,30)→(A,31); insert (B,7)
    val changes = Seq(
      (Some(("A", 10L)), Option.empty[(String, Long)]),
      (Some(("B", 30L)), Some(("A", 31L))),
      (None, Some(("B", 7L))))
      .toDF("before", "after")
      .selectExpr("named_struct('status', before._1, 'qty', before._2) AS b0",
        "named_struct('status', after._1, 'qty', after._2) AS a0")
      .selectExpr("if(b0.status IS NULL, NULL, b0) AS before",
        "if(a0.status IS NULL, NULL, a0) AS after")
    val post = Seq(("A", 20L), ("A", 31L), ("B", 7L)).toDF("status", "qty")
    def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("status")
      .agg(count(lit(1)).as("n"), sum("qty").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (preA, postA) = (agg(pre), agg(post))
    val delta = Apply.deltaAggregate(changes, Seq("status"), "qty")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (g <- preA.keySet ++ postA.keySet) {
      val (n0, s0) = preA.getOrElse(g, (0L, 0L))
      val (n1, s1) = postA.getOrElse(g, (0L, 0L))
      val (dn, ds) = delta.getOrElse(g, (0L, 0L))
      assert((n1 - n0, s1 - s0) === (dn, ds), s"group $g")
    }
  }

  test("deltaAggregate streaming: running net aggregate across batches (Update mode)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Option[(String, Long)], Option[(String, Long)])]
    val df = in.toDF().toDF("before", "after")
      .selectExpr("named_struct('status', before._1, 'qty', before._2) AS b0",
        "named_struct('status', after._1, 'qty', after._2) AS a0")
      .selectExpr("if(b0.status IS NULL, NULL, b0) AS before",
        "if(a0.status IS NULL, NULL, a0) AS after")
    val q = Apply.deltaAggregate(df, Seq("status"), "qty")
      .writeStream.format("memory").queryName("cdc_delta").outputMode(OutputMode.Update()).start()
    try {
      in.addData((None, Some(("A", 5L))), (Some(("A", 6L)), Some(("B", 8L))))
      q.processAllAvailable()
      in.addData((Some(("B", 8L)), None), (None, Some(("A", 2L))))
      q.processAllAvailable()
      // memory sink in Update mode: the LAST emission per group is its running value
      val last = spark.table("cdc_delta").collect()
        .zipWithIndex.groupBy(_._1.getString(0))
        .map { case (g, rs) => val r = rs.maxBy(_._2)._1; g -> (r.getLong(1), r.getLong(2)) }
      assert(last("A") === (1L, 1L), s"A: insert5 − before6 + insert2: $last") // rows: +1−1+1
      assert(last("B") === (0L, 0L), s"B: +8 then −8: $last")
    } finally q.stop()
  }

  test("latestStateStream runs on the RocksDB state store (100 TB state posture)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(Long, Long, Boolean, String, Long)]
    val q = Apply.latestStateStream(
        in.toDF().toDF("pk", "seq", "del", "status", "qty"), Seq("pk"), "seq", "del")
      .writeStream.format("memory").queryName("cdc_apply_rocks").outputMode(OutputMode.Update()).start()
    try {
      in.addData((1L, 10L, false, "a", 5L), (2L, 11L, false, "b", 6L))
      q.processAllAvailable()
      in.addData((1L, 20L, false, "c", 7L), (1L, 15L, false, "z", 0L)) // 15 conflated away
      q.processAllAvailable()
      val rows = spark.table("cdc_apply_rocks").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(rows === Set((1L, 10L, "a"), (2L, 11L, "b"), (1L, 20L, "c")))
    } finally {
      q.stop()
      prior.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  test("q64/q66 column pruning reaches the orders scan") {
    // the apply tier touches only (o_orderkey, o_orderstatus); a scan reading
    // all orders columns would be a 100 TB read-amplification bug
    for (name <- Seq("q64_cdc_apply", "q66_cdc_delta_agg")) {
      val plan = graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(read.contains("o_orderkey") && read.contains("o_orderstatus"), s"$name: $read")
      assert(!read.contains("o_totalprice") && !read.contains("o_orderdate"),
        s"$name reads unused columns: $read")
    }
  }

  test("batch/oracle parity shape: q64/q65 run green on sf0.001") {
    val d = "/root/testdata/sf0.001"
    val q64 = graft.SparkEntry.queries("q64_cdc_apply")(spark, d)
    val rows = q64.collect()
    assert(rows.nonEmpty)
    // winner-per-key: pk unique, no deleted winners (seq%10==7)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    assert(rows.forall(r => r.getLong(1) % 10 != 7))
    val q65 = graft.SparkEntry.queries("q65_cdc_history")(spark, d)
    val h = q65.collect()
    assert(h.nonEmpty)
    // exactly one open (current) interval per surviving key, none for others
    val open = h.filter(_.getBoolean(3)).map(_.getLong(0))
    assert(open.distinct.length === open.length)
  }
}
