package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

// Top-level: Dataset encoders cannot instantiate inner (outer-scoped) case classes.
case class EnvMeta(name: String, rawType: String, unsigned: Boolean,
                   enumValues: Seq[String], setValues: Seq[String])
case class EnvRaw(database: String, table: String, action: String,
                  ts: Long, stmt_seq: Long,
                  cols: Seq[EnvMeta], rows: Seq[Seq[String]])

/** Golden envelope tests from FIXTURES.md §1/§2: byte-exact JSON (Go
  * `json.Marshal` sorts map keys alphabetically — reference
  * `handler.go:81-98`), multi-row explode counts, update pairing, alter
  * without an `event` key, short-row NULL padding. */
class EnvelopeSpec extends SparkSpec {
  private type Meta = EnvMeta
  private val Meta = EnvMeta
  private type Raw = EnvRaw
  private val Raw = EnvRaw

  private val cityCols = Seq(
    Meta("id", "int(11)", unsigned = false, Nil, Nil),
    Meta("city_name", "varchar(64)", unsigned = false, Nil, Nil),
    Meta("provinces_id", "int(11)", unsigned = false, Nil, Nil))

  private def run(raw: Seq[Raw]): Array[(Long, String, String)] = {
    import spark.implicits._
    val df: DataFrame = raw.toDF()
    val env = EnvelopeBuilder.withEventIndex(EnvelopeBuilder.fromPositional(df))
    env.withColumn("envelope", EnvelopeBuilder.envelopeJson(env))
      .orderBy("event_index")
      .select(col("event_index"), col("topic"), col("envelope"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
  }

  test("insert golden envelope (FIXTURES §1), unicode intact, keys alphabetical") {
    val out = run(Seq(Raw("test", "city", "insert", 1524115914L, 1,
      cityCols, Seq(Seq("6078191", "哈哈哈", "1")))))
    assert(out.length === 1)
    assert(out(0)._3 ===
      """{"database":"test","event":{"data":{"city_name":"哈哈哈","id":6078191,"provinces_id":1}},"event_index":1,"event_type":"insert","table":"city","time":1524115914}""")
    assert(out(0)._2 === "test.city")
  }

  test("update pairs even/odd rows into old_data/new_data (FIXTURES §1)") {
    val out = run(Seq(Raw("test", "city", "update", 1524115867L, 1,
      cityCols, Seq(Seq("5764809", "北海市", "22"), Seq("5764809", "北海市1", "22")))))
    assert(out.length === 1)
    assert(out(0)._3 ===
      """{"database":"test","event":{"data":{"new_data":{"city_name":"北海市1","id":5764809,"provinces_id":22},"old_data":{"city_name":"北海市","id":5764809,"provinces_id":22}}},"event_index":1,"event_type":"update","table":"city","time":1524115867}""")
  }

  test("delete golden envelope (FIXTURES §1)") {
    val out = run(Seq(Raw("test", "city", "delete", 1524115287L, 1,
      cityCols, Seq(Seq("5764808", "梧州市", "22")))))
    assert(out(0)._3 ===
      """{"database":"test","event":{"data":{"city_name":"梧州市","id":5764808,"provinces_id":22}},"event_index":1,"event_type":"delete","table":"city","time":1524115287}""")
  }

  test("alter carries NO event key (handler.go:101-110)") {
    val out = run(Seq(Raw("test", "bar", "alter", 1524116248L, 1, cityCols, null)))
    assert(out(0)._3 ===
      """{"database":"test","event_index":1,"event_type":"alter","table":"bar","time":1524116248}""")
  }

  test("multi-row statements explode: 3-row insert -> 3 envelopes, 4-row update -> 2, dense index") {
    val out = run(Seq(
      Raw("d", "t", "insert", 10L, 1, cityCols,
        Seq(Seq("1", "a", "1"), Seq("2", "b", "2"), Seq("3", "c", "3"))),
      Raw("d", "t", "update", 11L, 2, cityCols,
        Seq(Seq("1", "a", "1"), Seq("1", "a2", "1"), Seq("2", "b", "2"), Seq("2", "b2", "2"))),
      Raw("d", "t", "delete", 12L, 3, cityCols, Seq(Seq("9", "z", "9")))))
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val types = out.map(_._3).map(e => "\"event_type\":\"(\\w+)\"".r.findFirstMatchIn(e).get.group(1))
    assert(types.toSeq === Seq("insert", "insert", "insert", "update", "update", "delete"))
  }

  test("short row pads missing trailing columns with null (handler.go:146-148)") {
    val out = run(Seq(Raw("d", "t", "insert", 1L, 1, cityCols, Seq(Seq("7", "x")))))
    assert(out(0)._3.contains(""""event":{"data":{"city_name":"x","id":7,"provinces_id":null}}"""))
  }

  test("static (plan-time schema) path emits byte-identical envelopes to the dynamic path") {
    import spark.implicits._
    val metas = Seq(
      Meta("id", "int(11)", unsigned = false, Nil, Nil),
      Meta("big_u", "bigint(20) unsigned", unsigned = true, Nil, Nil),
      Meta("flag", "enum('a','b')", unsigned = false, Seq("a", "b"), Nil),
      Meta("tags", "set('x','y')", unsigned = false, Nil, Seq("x", "y")),
      Meta("note", "varchar(8)", unsigned = false, Nil, Nil),
      Meta("price", "decimal(10,2)", unsigned = false, Nil, Nil),
      Meta("at", "datetime(6)", unsigned = false, Nil, Nil))
    val statics = metas.map(m => Decode.ColMeta(m.name, m.rawType, m.unsigned, m.enumValues, m.setValues))
    val rawRows = Seq(
      Raw("d", "t", "insert", 1L, 1, metas,
        Seq(Seq("7", "-1", "2", "3", "he\"y", "12.50", "2024-01-02 03:04:05.000006"))),
      Raw("d", "t", "update", 2L, 2, metas,
        Seq(Seq("7", "5", "1", "0", "a", "1e21", null), Seq("7", "5", "2", "1", "b", "-0.0", "x"))),
      Raw("d", "t", "insert", 3L, 3, metas, Seq(Seq("9", "1"))),   // short row
      Raw("d", "t", "delete", 4L, 4, metas, Seq(null, Seq("1"))),  // null image
      Raw("d", "t", "update", 5L, 5, metas, Seq(Seq("3"), null)),  // null new image
      Raw("d", "t", "alter", 6L, 6, metas, null))
    val df = rawRows.toDF()
    val dyn = EnvelopeBuilder.envelopes(EnvelopeBuilder.fromPositional(df))
      .orderBy("stmt_seq", "pair_pos").select("event_type", "event", "topic")
      .collect().map(_.toSeq).toSeq
    val sta = EnvelopeBuilder.envelopesStatic(df.drop("cols"), statics)
      .orderBy("stmt_seq", "pair_pos").select("event_type", "event", "topic")
      .collect().map(_.toSeq).toSeq
    assert(sta === dyn)
  }

  test("event_index continues from a restored start offset (ST2 semantics)") {
    import spark.implicits._
    val df = Seq(Raw("d", "t", "insert", 1L, 1, cityCols, Seq(Seq("1", "a", "1"), Seq("2", "b", "2")))).toDF()
    val env = EnvelopeBuilder.withEventIndex(EnvelopeBuilder.fromPositional(df), startIndex = 1161L)
    assert(env.select("event_index").collect().map(_.getLong(0)).sorted.toSeq === Seq(1162L, 1163L))
  }

  test("static path sorts keys by UTF-8 bytes like Go, not UTF-16 code units") {
    import spark.implicits._
    // U+FFFD (UTF-8: EF BF BD) sorts BEFORE U+1F600 (F0 9F 98 80) in byte
    // order — but AFTER it in Java String order (0xFFFD > surrogate 0xD83D).
    // Go's json.Marshal and the dynamic path's array_sort both compare
    // UTF-8 bytes; the static path must agree.
    val repl = "�"
    val emoji = new String(Character.toChars(0x1F600))
    val cols = Seq(Decode.ColMeta(emoji, "int(11)"), Decode.ColMeta(repl, "int(11)"))
    val json = Seq(Seq("7", "8")).toDF("row")
      .select(RowImageJson(col("row"), cols).as("j"))
      .collect()(0).getString(0)
    assert(json.indexOf(repl) >= 0 && json.indexOf(emoji) >= 0)
    assert(json.indexOf(repl) < json.indexOf(emoji),
      s"UTF-8 byte order puts U+FFFD first: $json")
    // and the value slots still follow the POSITIONAL column order
    assert(json.contains(s""""$repl":8""") && json.contains(s""""$emoji":7"""), json)
  }

  /** Each rawType the decode dispatches on, with edge values every eval mode
    * decodes, and values that are malformed for the type (which fail the
    * cast under ANSI and decode as `null` under legacy casts). */
  private val edgeCols: Seq[(Decode.ColMeta, Seq[String], Seq[String])] = {
    val ints = Seq("0", "7", "-1", "-128", "127", "-129", " 42 ", "+5")
    val set64 = (1 to 64).map(i => s"m$i")
    def int(t: String) = Seq(
      (Decode.ColMeta(t, t), ints, Nil),
      (Decode.ColMeta(t + "_u", t + " unsigned", unsigned = true), ints, Nil))
    int("tinyint(3)") ++ int("smallint(5)") ++ int("mediumint(8)") ++
      int("int(10)") ++ Seq(
      (Decode.ColMeta("int_m", "int(11)"), Seq("-2147483648", "2147483647"),
        Seq("abc", "", "1.5", "99999999999999999999")),
      (Decode.ColMeta("bigint", "bigint(20)"),
        Seq("9223372036854775807", "-9223372036854775808", "-1"), Seq("x1")),
      (Decode.ColMeta("bigint_u", "bigint(20) unsigned", unsigned = true),
        Seq("9223372036854775807", "-9223372036854775808", "-1", "0"), Seq("abc")),
      (Decode.ColMeta("float", "float"), Seq("1.5", "-0.0", "0", "3.4028235e38"), Nil),
      (Decode.ColMeta("double", "double"),
        Seq("12.50", "1e21", "1e-7", "12345678.9", " 2.5 ", "4.9e-324"),
        Seq("abc", "NaN", "1e400")),
      (Decode.ColMeta("decimal", "decimal(30,10)"), Seq("123.00", "0.000001", "-42"), Nil),
      (Decode.ColMeta("enum", "enum('a','b','c')", enumValues = Seq("a", "b\"q", "c")),
        Seq("1", "2", "3", "4", "-1", "-3", "-4", "99"), Seq("0", "abc", "4294967297")),
      (Decode.ColMeta("set", "set('','x','y')", setValues = Seq("", "x", "y")),
        Seq("0", "1", "2", "3", "6", "7", "-1"), Seq("abc")),
      (Decode.ColMeta("set64", "set(m1..m64)", setValues = set64),
        Seq(Long.MinValue.toString, "-1", "5", "0"), Nil),
      (Decode.ColMeta("note", "varchar(32)"),
        Seq("", "plain", "q\"uote", "back\\slash", "t\tn\nr\r", "哈哈", "\u0000",
          new String(Character.toChars(0x1F600))), Nil),
      (Decode.ColMeta("at", "datetime(6)"), Seq("2024-01-02 03:04:05.000006"), Nil),
      (Decode.ColMeta("blob\tkey \"q\"", "blob"), Seq("raw"), Nil))
  }

  /** (dynamic, kernel) event JSON of `rows` under `cols`, in statement
    * order; each side a Try, so a failing cast shows as a failure. */
  private def bothPaths(cols: Seq[Decode.ColMeta], rows: Seq[Seq[Seq[String]]])
      : (scala.util.Try[Seq[String]], scala.util.Try[Seq[String]]) =
    (events(EnvelopeBuilder.envelopes(EnvelopeBuilder.fromPositional(positional(cols, rows)))),
      kernelPath(cols, rows))

  private def kernelPath(cols: Seq[Decode.ColMeta], rows: Seq[Seq[Seq[String]]]) =
    events(EnvelopeBuilder.envelopesStatic(positional(cols, rows).drop("cols"), cols))

  private def positional(cols: Seq[Decode.ColMeta], rows: Seq[Seq[Seq[String]]]): DataFrame = {
    import spark.implicits._
    val metas = cols.map(c => Meta(c.name, c.rawType, c.unsigned, c.enumValues, c.setValues))
    rows.zipWithIndex.map { case (r, i) =>
      Raw("d", "t", if (r != null && r.size == 2) "update" else "insert", 1L, i.toLong, metas, r)
    }.toDF()
  }

  private def events(env: DataFrame): scala.util.Try[Seq[String]] = scala.util.Try(
    env.orderBy("stmt_seq", "pair_pos").select("event").collect().map(_.getString(0)).toSeq)

  test("row-image kernel equals the dynamic decode for every rawType and edge " +
    "value, under ANSI and legacy casts") {
    val cols = edgeCols.map(_._1)
    val n = edgeCols.map(_._2.size).max
    val valid = (0 until n).map(r => Seq(edgeCols.map(c => c._2(r % c._2.size))))
    val shapes = Seq(
      Seq(cols.indices.map(i => valid(i % n).head(i))),       // a second mix
      Seq(Seq("1", "2")),                                     // short row
      Seq(null, Seq("1")),                                    // null image, then a short one
      Seq(cols.map(_ => null: String)))                       // null elements
    val base = valid.head.head
    val malformed = for ((c, i) <- edgeCols.zipWithIndex; v <- c._3)
      yield Seq(base.updated(i, v))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("true", "false").foreach { mode =>
      spark.conf.set("spark.sql.ansi.enabled", mode)
      val (dyn, ker) = bothPaths(cols, valid ++ shapes)
      assert(dyn.isSuccess, dyn)
      assert(ker === dyn, s"ansi=$mode")
      var failed = 0
      malformed.foreach { row =>
        val (d, k) = bothPaths(cols, Seq(row))
        if (d.isFailure) {
          failed += 1
          assert(k.isFailure, s"ansi=$mode: dynamic path fails on $row, kernel gives $k")
        } else assert(k === d, s"ansi=$mode: $row")
      }
      if (mode == "true") assert(failed >= 6, "ANSI casts reject malformed values")
      // 2^31 overflows the ordinal's cast to int: ANSI fails; a legacy cast
      // wraps it to Int.MinValue, which passes element_at's range check and
      // makes Spark's own element_at read outside the array (the dynamic
      // path is not run on it) — the kernel renders it out of range
      val enumCol = cols.indexWhere(_.name == "enum")
      val k = kernelPath(cols, Seq(Seq(base.updated(enumCol, "2147483648"))))
      if (mode == "true") assert(k.isFailure, k)
      else assert(k.get.head.contains("\"enum\":null"), k)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("the kernel's generated code is the same text whatever the column list") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeFormatter
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val df = Seq(Seq("1", "2")).toDF("row").repartition(1)
    def code(cols: Seq[Decode.ColMeta]): Seq[String] = {
      val q = df.select(RowImageJson(col("row"), cols).as("j"))
      q.collect()
      new AdaptiveSparkPlanHelper {}.collect(q.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => CodeFormatter.stripExtraNewLinesAndComments(w.doCodeGen()._2.body)
      }
    }
    val one = code(Seq(Decode.ColMeta("a", "int(11)")))
    assert(one.nonEmpty)
    assert(code((1 to 40).map(i => Decode.ColMeta(s"c$i", if (i % 2 == 0) "double" else "varchar(8)")))
      === one)
  }

  test("Json.escape is one native expression with the regex chain's bytes") {
    import spark.implicits._
    val values = Seq("", "plain", "a\"b", "back\\slash", "t\tn\nr\r", "哈\"哈",
      new String(Character.toChars(0x1F600)) + "\\", "\\\\\"\"", null)
    // the replaced form: a containment regex, then five regex replacements
    def chain(c: org.apache.spark.sql.Column) = {
      val esc = Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n", "\r" -> "\\r", "\t" -> "\\t")
      when(c.rlike("[\\\\\"\n\r\t]"), esc.foldLeft(c) { case (acc, (from, to)) =>
        regexp_replace(acc, java.util.regex.Pattern.quote(from),
          java.util.regex.Matcher.quoteReplacement(to))
      }).otherwise(c)
    }
    val df = values.toDF("v")
    Seq(df, df.repartition(2)).foreach { in => // interpreted, then generated
      val got = in.select(col("v"), Json.escape(col("v")).as("e"), chain(col("v")).as("o"))
        .collect()
      assert(got.length === values.size)
      got.foreach(r => assert(r.getString(1) === r.getString(2), String.valueOf(r.getString(0))))
    }
    assert(df.select(Json.escape(col("v"))).queryExecution.analyzed.toString
      .contains("json_escape"))
  }
}
