package graft.cdc

import graft.SparkSpec
import graft.cdc.{Decode, SchemaRegistry}
import org.apache.spark.sql.functions._

/** Schema drift (SURVEY §7.4): versioned per-table schemas driven by in-stream
  * ALTER DDL, decoding each row under the schema live at its position — the
  * behavior the reference's readme warns it gets wrong (`readme.md:54`). */
class SchemaRegistrySpec extends SparkSpec {
  import SchemaRegistry._

  private def names(cols: Seq[Decode.ColMeta]): Seq[String] = cols.map(_.name)

  test("parseAlter: ADD/DROP/MODIFY/CHANGE with placement, enum/set, unsigned") {
    assert(parseAlter("ALTER TABLE db.t ADD COLUMN c int(10) unsigned") ===
      Seq(AddColumn(Decode.ColMeta("c", "int(10) unsigned", unsigned = true), None)))
    assert(parseAlter("alter table `t` add c2 varchar(32) FIRST") ===
      Seq(AddColumn(Decode.ColMeta("c2", "varchar(32)"), Some(None))))
    assert(parseAlter("ALTER TABLE t ADD COLUMN c3 bigint AFTER `a`") ===
      Seq(AddColumn(Decode.ColMeta("c3", "bigint"), Some(Some("a")))))
    assert(parseAlter("ALTER TABLE t DROP COLUMN old") === Seq(DropColumn("old")))
    assert(parseAlter("ALTER TABLE t MODIFY c smallint unsigned") ===
      Seq(ModifyColumn(Decode.ColMeta("c", "smallint unsigned", unsigned = true))))
    assert(parseAlter("ALTER TABLE t CHANGE COLUMN a b tinyint") ===
      Seq(ChangeColumn("a", Decode.ColMeta("b", "tinyint"))))
    // enum values with a comma inside quotes must not split the clause list
    assert(parseAlter("ALTER TABLE t ADD flag enum('x','y'), DROP COLUMN z") ===
      Seq(AddColumn(Decode.ColMeta("flag", "enum('x','y')",
        enumValues = Seq("x", "y")), None), DropColumn("z")))
    assert(colMetaOf("tags", "set('red','green')").setValues === Seq("red", "green"))
    // non-column clauses (indexes etc.) don't change the row image
    assert(parseAlter("ALTER TABLE t ADD INDEX idx (a), DROP COLUMN b") ===
      Seq(DropColumn("b")))
    assert(parseAlter("not ddl at all") === Nil)
  }

  test("parseAlter: MODIFY/CHANGE carry FIRST/AFTER placement") {
    assert(parseAlter("ALTER TABLE t MODIFY c int AFTER a") ===
      Seq(ModifyColumn(Decode.ColMeta("c", "int"), Some(Some("a")))))
    assert(parseAlter("ALTER TABLE t MODIFY COLUMN c bigint FIRST") ===
      Seq(ModifyColumn(Decode.ColMeta("c", "bigint"), Some(None))))
    assert(parseAlter("ALTER TABLE t CHANGE a b tinyint unsigned AFTER `z`") ===
      Seq(ChangeColumn("a", Decode.ColMeta("b", "tinyint unsigned", unsigned = true),
        Some(Some("z")))))
    assert(parseAlter("ALTER TABLE t CHANGE COLUMN a b int FIRST") ===
      Seq(ChangeColumn("a", Decode.ColMeta("b", "int"), Some(None))))
  }

  test("applyOp: MODIFY/CHANGE with FIRST/AFTER reposition the decode slot") {
    val base = Seq(Decode.ColMeta("a", "int"), Decode.ColMeta("b", "int"),
      Decode.ColMeta("c", "int"))
    // MODIFY ... AFTER moves the column: (a,b,c) -> MODIFY c AFTER a -> (a,c,b)
    assert(names(applyOp(base, ModifyColumn(Decode.ColMeta("c", "bigint"), Some(Some("a"))))) ===
      Seq("a", "c", "b"))
    assert(names(applyOp(base, ModifyColumn(Decode.ColMeta("c", "int"), Some(None)))) ===
      Seq("c", "a", "b"))
    // CHANGE rename + move in one clause
    assert(names(applyOp(base, ChangeColumn("a", Decode.ColMeta("a2", "int"), Some(Some("b"))))) ===
      Seq("b", "a2", "c"))
    // no placement: in-place retype, order untouched
    assert(names(applyOp(base, ModifyColumn(Decode.ColMeta("b", "bigint")))) === Seq("a", "b", "c"))
    // unknown AFTER anchor: tolerated, slot kept
    assert(names(applyOp(base, ModifyColumn(Decode.ColMeta("b", "int"), Some(Some("nope"))))) ===
      Seq("a", "b", "c"))
  }

  test("drift decode honors MODIFY ... AFTER: slots shift for later rows") {
    import spark.implicits._
    val raw = Seq(
      ("d", "t", "insert", 1L, 10L, Seq(Seq("1", "9", "x")), null: String),
      ("d", "t", "alter", 1L, 20L, null: Seq[Seq[String]],
        "ALTER TABLE d.t MODIFY COLUMN c varchar(4) AFTER a"),
      // post-move wire order is (a, c, b)
      ("d", "t", "insert", 1L, 30L, Seq(Seq("2", "y", "8")), null: String)
    ).toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query")
    val reg = new SchemaRegistry
    reg.register("d", "t", Seq(Decode.ColMeta("a", "int"), Decode.ColMeta("b", "int"),
      Decode.ColMeta("c", "varchar(4)")))
    val out = reg.decodeBatch(raw).select("stmt_seq", "event").orderBy("stmt_seq").collect()
    assert(out(0).getString(1) === """{"data":{"a":1,"b":9,"c":"x"}}""")
    assert(out(2).getString(1) === """{"data":{"a":2,"b":8,"c":"y"}}""")
  }

  test("applyOp keeps positional truth: FIRST/AFTER place the decode slot") {
    val base = Seq(Decode.ColMeta("a", "int"), Decode.ColMeta("b", "int"))
    assert(names(applyOp(base, AddColumn(Decode.ColMeta("c", "int"), None))) === Seq("a", "b", "c"))
    assert(names(applyOp(base, AddColumn(Decode.ColMeta("c", "int"), Some(None)))) === Seq("c", "a", "b"))
    assert(names(applyOp(base, AddColumn(Decode.ColMeta("c", "int"), Some(Some("a"))))) === Seq("a", "c", "b"))
    assert(names(applyOp(base, DropColumn("a"))) === Seq("b"))
    assert(names(applyOp(base, ChangeColumn("b", Decode.ColMeta("b2", "bigint")))) === Seq("a", "b2"))
  }

  test("versions are sequence-ranged and replay-idempotent") {
    val reg = new SchemaRegistry
    reg.register("db", "t", Seq(Decode.ColMeta("id", "int"), Decode.ColMeta("v", "varchar(8)")))
    reg.applyAlter("db", "t", 100L, "ALTER TABLE db.t ADD COLUMN extra int")
    assert(reg.schemaAt("db", "t", 99L).get.version === 1)
    assert(reg.schemaAt("db", "t", 100L).get.version === 2)
    assert(names(reg.schemaAt("db", "t", 500L).get.cols) === Seq("id", "v", "extra"))
    // Replay of the batch that carried the ALTER re-applies it: same version,
    // not a stacked v3.
    reg.applyAlter("db", "t", 100L, "ALTER TABLE db.t ADD COLUMN extra int")
    assert(reg.versionsOf("db", "t").size === 2)
    // A later alter chains off the live schema.
    reg.applyAlter("db", "t", 200L, "ALTER TABLE db.t DROP COLUMN v")
    assert(names(reg.schemaAt("db", "t", 201L).get.cols) === Seq("id", "extra"))
    assert(reg.schemaAt("db", "t", 150L).get.version === 2)
    assert(reg.schemaAt("db", "unknown", 1L) === None)
  }

  test("drift decode: insert -> alter -> insert-with-new-column, both correct") {
    import spark.implicits._
    // The failure the reference warns about (readme.md:54): rows before and
    // after an ALTER in the SAME stream must decode under different schemas.
    val raw = Seq(
      // v1 rows: (id, name)
      ("shop", "user", "insert", 10L, 1L, Seq(Seq("1", "ann")), null: String),
      ("shop", "user", "insert", 11L, 2L, Seq(Seq("2", "bob")), null: String),
      // the ALTER itself (one envelope, no event payload)
      ("shop", "user", "alter", 12L, 3L, null: Seq[Seq[String]],
        "ALTER TABLE shop.user ADD COLUMN age tinyint unsigned AFTER id"),
      // v2 rows: (id, age, name) - age sits in slot 2 per AFTER id
      ("shop", "user", "insert", 13L, 4L, Seq(Seq("3", "-6", "cat")), null: String),
      ("shop", "user", "update", 14L, 5L,
        Seq(Seq("3", "-6", "cat"), Seq("3", "7", "cat")), null: String)
    ).toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query")

    val reg = new SchemaRegistry
    reg.register("shop", "user",
      Seq(Decode.ColMeta("id", "int"), Decode.ColMeta("name", "varchar(16)")))

    val out = reg.decodeBatch(raw)
      .select("stmt_seq", "schema_version", "event_type", "event")
      .orderBy("stmt_seq").collect()

    assert(out.map(_.getInt(1)).toSeq === Seq(1, 1, 2, 2, 2),
      "the new version is effective FROM the alter's own sequence")
    assert(out(0).getString(3) === """{"data":{"id":1,"name":"ann"}}""")
    assert(out(2).getString(3) === null, "alter envelope has no event payload")
    // unsigned tinyint fix-up applies to the NEW column: -6 -> 250
    assert(out(3).getString(3) === """{"data":{"age":250,"id":3,"name":"cat"}}""")
    assert(out(4).getString(3) ===
      """{"data":{"new_data":{"age":7,"id":3,"name":"cat"},"old_data":{"age":250,"id":3,"name":"cat"}}}""")
  }

  test("drift persists ACROSS micro-batches: alter in batch 1 governs batch 2") {
    import spark.implicits._
    val reg = new SchemaRegistry
    reg.register("d", "t", Seq(Decode.ColMeta("a", "int")))
    val b1 = Seq(
      ("d", "t", "insert", 1L, 10L, Seq(Seq("1")), null: String),
      ("d", "t", "alter", 1L, 20L, null: Seq[Seq[String]],
        "ALTER TABLE d.t ADD COLUMN b smallint unsigned")
    ).toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query")
    assert(reg.decodeBatch(b1).count() === 2)
    // Batch 2 carries no DDL; its rows must still decode under v2 (and the
    // unsigned fix-up of the drifted-in column must apply).
    val b2 = Seq(
      ("d", "t", "insert", 1L, 30L, Seq(Seq("2", "-1")), null: String)
    ).toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query")
    val out = reg.decodeBatch(b2).select("schema_version", "event").collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(2))
    assert(out.head.getString(1) === """{"data":{"a":2,"b":65535}}""")
  }

  test("a batch straddling two ALTERs yields three correct version slices") {
    import spark.implicits._
    val raw = Seq(
      ("d", "t", "insert", 1L, 10L, Seq(Seq("1")), null: String),
      ("d", "t", "alter", 1L, 20L, null: Seq[Seq[String]],
        "ALTER TABLE d.t ADD COLUMN b varchar(4)"),
      ("d", "t", "insert", 1L, 30L, Seq(Seq("2", "x")), null: String),
      ("d", "t", "alter", 1L, 40L, null: Seq[Seq[String]],
        "ALTER TABLE d.t DROP COLUMN a"),
      ("d", "t", "insert", 1L, 50L, Seq(Seq("y")), null: String)
    ).toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query")

    val reg = new SchemaRegistry
    reg.register("d", "t", Seq(Decode.ColMeta("a", "int")))
    val out = reg.decodeBatch(raw)
      .select("stmt_seq", "event").orderBy("stmt_seq").collect()
    assert(out.map(r => Option(r.getString(1)).orNull).toSeq === Seq(
      """{"data":{"a":1}}""", null,
      """{"data":{"a":2,"b":"x"}}""", null,
      """{"data":{"b":"y"}}"""))
  }

  test("decodeBatch scans the input once, not tables x versions times") {
    import spark.implicits._
    // 10 tables x 3 versions each = 30 historical slices. The batch input is
    // instrumented with an accumulator; an unpersisted plan would re-scan it
    // per slice (~30x rows), the cached single-scan plan touches each row once
    // per pass (control-plane pass + cache fill = 2 passes, small overhead
    // from local-relation re-evaluation tolerated).
    val reg = new SchemaRegistry
    val tables = (0 until 10).map(i => s"t$i")
    tables.foreach(t => reg.register("d", t,
      Seq(Decode.ColMeta("a", "int"), Decode.ColMeta("b", "varchar(8)"))))
    tables.foreach { t =>
      reg.applyAlter("d", t, 100L, s"ALTER TABLE d.$t ADD COLUMN c int")
      reg.applyAlter("d", t, 200L, s"ALTER TABLE d.$t DROP COLUMN b")
    }
    val rows = for (t <- tables; i <- 0 until 50)
      yield ("d", t, "insert", 1L, 250L + i, Seq(Seq((i + 1).toString, "v")), null: String)
    val df = rows.toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query")
    val acc = spark.sparkContext.longAccumulator("scanned")
    val counted = df.mapPartitions { it => it.map { r => acc.add(1); r } }(
      org.apache.spark.sql.Encoders.row(df.schema))
    val (out, _, cleanup) = reg.decodeBatchManaged(counted)
    try {
      assert(out.count() === 500)
      assert(acc.value <= 4L * 500,
        s"input scanned ${acc.value / 500.0}x; expected ~2 passes, not per-slice rescans")
    } finally cleanup()
  }

  test("one-pass decode equals the per-slice union: two tables sharing a column " +
    "list plus an ALTERed version, updates, deletes and the alter itself") {
    import spark.implicits._
    val reg = new SchemaRegistry
    val cols = Seq(Decode.ColMeta("a", "int"), Decode.ColMeta("b", "varchar(8)"))
    reg.register("d", "t1", cols)
    reg.register("d", "t2", cols)
    reg.register("d", "gone", cols) // registered, absent from the batch
    val raw = Seq(
      ("d", "t1", "insert", 1L, 10L, Seq(Seq("1", "x"), Seq("2", "y")), null: String),
      ("d", "t2", "update", 1L, 20L, Seq(Seq("3", "p"), Seq("3", "q"), Seq("4", "r"),
        Seq("4", "s")), null: String),
      ("d", "t1", "alter", 1L, 30L, null: Seq[Seq[String]],
        "ALTER TABLE d.t1 ADD COLUMN c int FIRST"),
      ("d", "t1", "update", 1L, 40L, Seq(Seq("7", "1", "x"), Seq("8", "1", "z")), null: String),
      ("d", "t2", "delete", 1L, 50L, Seq(Seq("3", "q")), null: String),
      ("d", "other", "insert", 1L, 60L, Seq(Seq("9")), null: String), // unregistered
      ("d", "t1", "insert", 1L, 70L, Seq(Seq("5", "6", "w")), null: String)
    ).toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query").repartition(3)
    val (out, rawRows, cleanup) = reg.decodeBatchManaged(raw)
    try {
      assert(rawRows === 7)
      // the old shape, built from the slices the registry plans for this batch
      val ranges = raw.groupBy("database", "table").agg(min("stmt_seq"), max("stmt_seq"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val slices = reg.planSlices(ranges)
      assert(slices.map(s => (s._2, s._3.version)) === Seq(("t1", 1), ("t1", 2), ("t2", 1)))
      val union = slices.map { case (db, tbl, v, untilSeq) =>
        EnvelopeBuilder.envelopesStatic(raw.filter(col("database") === db &&
            col("table") === tbl && col("stmt_seq") >= v.sinceSeq &&
            col("stmt_seq") < untilSeq).drop("query"), v.cols)
          .withColumn("schema_version", lit(v.version))
      }.reduce(_.unionAll(_))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
      assert(out.columns.toSeq === union.columns.toSeq)
      assert(rows(out) === rows(union))
      assert(out.count() === 8, "2 inserts + 2 update pairs + alter + 1 pair + delete + insert")
      assert(!out.queryExecution.executedPlan.toString.contains("Union"),
        "one narrow pass, not a union of slices")
    } finally cleanup()
  }

  test("a batch with only unregistered tables decodes to an empty, well-typed frame") {
    import spark.implicits._
    val reg = new SchemaRegistry
    reg.register("d", "known", Seq(Decode.ColMeta("a", "int")))
    val raw = Seq(
      ("d", "mystery", "insert", 1L, 10L, Seq(Seq("1")), null: String)
    ).toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query")
    val (out, _, cleanup) = reg.decodeBatchManaged(raw)
    try {
      assert(out.count() === 0)
      // schema must still be the envelope schema so downstream union/index
      // stages plan identically on an all-filtered batch
      assert(out.columns.toSeq === Seq("database", "table", "event_type", "time",
        "stmt_seq", "pair_pos", "event", "topic", "schema_version"))
    } finally cleanup()
  }

  test("planSlices prunes versions outside the batch's per-table range") {
    val reg = new SchemaRegistry
    reg.register("d", "t", Seq(Decode.ColMeta("a", "int")))
    reg.applyAlter("d", "t", 100L, "ALTER TABLE d.t ADD COLUMN b int")
    reg.applyAlter("d", "t", 200L, "ALTER TABLE d.t ADD COLUMN c int")
    reg.register("d", "other", Seq(Decode.ColMeta("x", "int")))
    // batch covers only seq 250..300 of d.t: v1 [min,100) and v2 [100,200)
    // are history, d.other is absent entirely -> exactly one slice (v3).
    val planned = reg.planSlices(Map(("d", "t") -> (250L, 300L)))
    assert(planned.map(p => (p._1, p._2, p._3.version)) === Seq(("d", "t", 3)))
    // a batch straddling the second ALTER plans v2+v3, still not v1
    assert(reg.planSlices(Map(("d", "t") -> (150L, 250L)))
      .map(_._3.version) === Seq(2, 3))
    // nothing registered present -> no slices (decodeBatch returns empty frame)
    assert(reg.planSlices(Map(("d", "absent") -> (0L, 10L))) === Nil)
  }

  test("snapshot/restore roundtrip: versions, placement, enum values with commas/quotes") {
    val reg = new SchemaRegistry
    reg.register("shop", "user", Seq(
      Decode.ColMeta("id", "int(11)"),
      Decode.ColMeta("flag", "enum('a','b,c','d''e')", enumValues = Seq("a", "b,c", "d'e")),
      Decode.ColMeta("name", "varchar(40)")))
    reg.register("shop", "order", Seq(Decode.ColMeta("oid", "bigint(20) unsigned",
      unsigned = true)))
    reg.applyAlter("shop", "user", 10L, "ALTER TABLE user ADD age int AFTER id")
    reg.applyAlter("shop", "user", 20L, "ALTER TABLE user MODIFY name varchar(80) FIRST")

    // restart: a fresh registry with only the BASE schemas registered
    val fresh = new SchemaRegistry
    fresh.register("shop", "user", Seq(
      Decode.ColMeta("id", "int(11)"),
      Decode.ColMeta("flag", "enum('a','b,c','d''e')", enumValues = Seq("a", "b,c", "d'e")),
      Decode.ColMeta("name", "varchar(40)")))
    fresh.register("shop", "late_table", Seq(Decode.ColMeta("x", "int"))) // only live
    fresh.restore(reg.snapshotBytes())

    assert(fresh.versionsOf("shop", "user").map(_.version) === Seq(1, 2, 3),
      "persisted ALTER versions survive the restart")
    assert(names(fresh.schemaAt("shop", "user", 25L).get.cols) ===
      Seq("name", "id", "age", "flag"), "post-restore decode order is the ALTERed one")
    assert(fresh.schemaAt("shop", "user", 25L).get.cols
      .find(_.name == "flag").get.enumValues === Seq("a", "b,c", "d'e"),
      "enum values with commas and quotes round-trip")
    assert(fresh.versionsOf("shop", "order").map(_.version) === Seq(1))
    assert(fresh.versionsOf("shop", "late_table").nonEmpty,
      "tables only in the live registration survive a restore")
  }

  test("decodeBatch drops malformed (all-null) rows instead of NPE-ing the control pass") {
    val reg = new SchemaRegistry
    reg.register("d", "t", Seq(Decode.ColMeta("id", "int"), Decode.ColMeta("v", "varchar(8)")))
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("d", "t", "insert", 1L, 1L,
          Seq(Seq("1", "x")), null),
        org.apache.spark.sql.Row(null, null, null, null, null, null, null))), // malformed line
      graft.streaming.CdcStream.rawPositionalSchema)
    val (out, rawRows, done) = reg.decodeBatchManaged(batch)
    val rows = out.collect()
    done()
    assert(rows.length === 1, "the well-formed row decodes; the malformed one is dropped")
    assert(rawRows === 2, "the control pass counts every raw row, malformed ones included")
  }

  // --------------------------------------------------------------------------
  // Property sweep: the ALTER grammar, pinned by generation. Round 5's
  // FIRST/AFTER-on-MODIFY bug was found by review, not by tests — this closes
  // that class. Structured ops are generated FIRST, rendered to DDL text with
  // randomized surface syntax (keyword case, backticks, optional COLUMN
  // keyword, whitespace, db prefix, suffix clauses with embedded commas and
  // escaped quotes, comma-joined clause lists, interleaved non-column
  // clauses), then parseAlter must recover exactly the generated ops, and
  // folding applyOp must reproduce a column-order model evolved independently
  // from the structured ops (MySQL placement semantics + the canal-style
  // unknown-anchor tolerance).

  test("parseAlter property sweep: render -> parse -> apply matches an order model") {
    val rnd = new scala.util.Random(0xA17E5L) // seeded: failures reproduce
    val typePool = Vector("int(11)", "bigint(20) unsigned", "varchar(40)",
      "tinyint", "enum('a','b,c','d')", "set('x','y')", "decimal(10,2)",
      "datetime(6)", "text")
    val suffixPool = Vector("", " NOT NULL", " DEFAULT 'x,y'", " DEFAULT NULL",
      " NOT NULL COMMENT 'has, commas and ''quotes'''", " COLLATE utf8mb4_bin")

    def kw(s: String): String = rnd.nextInt(3) match {
      case 0 => s.toUpperCase
      case 1 => s.toLowerCase
      case _ => s.map(c => if (rnd.nextBoolean()) c.toUpper else c.toLower)
    }
    def id(s: String): String = if (rnd.nextBoolean()) s"`$s`" else s
    def sp: String = " " * (1 + rnd.nextInt(2))
    def colKw: String = if (rnd.nextBoolean()) kw("column") + sp else ""

    // placement: None = append/keep, Some(None) = FIRST, Some(Some(a)) = AFTER a
    def genPos(anchors: Seq[String]): Option[Option[String]] = rnd.nextInt(10) match {
      case 0 | 1 => Some(None)
      case 2 | 3 | 4 =>
        if (anchors.nonEmpty && rnd.nextInt(5) > 0)
          Some(Some(anchors(rnd.nextInt(anchors.size))))
        else Some(Some("no_such_col")) // unknown anchor: the tolerance path
      case _ => None
    }
    def renderPos(pos: Option[Option[String]]): String = pos match {
      case None          => ""
      case Some(None)    => sp + kw("first")
      case Some(Some(a)) => sp + kw("after") + sp + id(a)
    }

    // Independent order model over column NAMES (not via applyOp/place).
    def insertAt(ns: Vector[String], n: String, pos: Option[Option[String]]): Vector[String] =
      pos match {
        case None       => ns :+ n
        case Some(None) => n +: ns
        case Some(Some(a)) =>
          val i = ns.indexOf(a)
          if (i < 0) ns :+ n else (ns.take(i + 1) :+ n) ++ ns.drop(i + 1)
      }
    def moveTo(ns: Vector[String], n: String, pos: Option[Option[String]]): Vector[String] =
      pos match {
        case None => ns
        case Some(p) =>
          val rest = ns.filterNot(_ == n)
          p match {
            case None => n +: rest
            case Some(a) =>
              val i = rest.indexOf(a)
              if (i < 0) ns // unknown anchor: keep slot
              else (rest.take(i + 1) :+ n) ++ rest.drop(i + 1)
          }
      }

    var checked = 0
    for (_ <- 1 to 400) {
      val startNames = rnd.shuffle(Vector("id", "name", "age", "city", "note",
        "f$x", "created_at", "v2")).take(2 + rnd.nextInt(4))
      var model = startNames
      val fresh = scala.collection.mutable.Queue((1 to 6).map(i => s"new$i"): _*)

      // 1..4 clauses generated against the EVOLVING model state, like a real
      // multi-clause ALTER evaluated left to right.
      val gen: Seq[(AlterOp, String)] = (1 to (1 + rnd.nextInt(4))).flatMap { _ =>
        val typ = typePool(rnd.nextInt(typePool.size))
        val suffix = suffixPool(rnd.nextInt(suffixPool.size))
        rnd.nextInt(5) match {
          case 0 if fresh.nonEmpty =>
            val n = fresh.dequeue()
            val pos = genPos(model)
            model = insertAt(model, n, pos)
            Some(AddColumn(colMetaOf(n, typ + suffix), pos) ->
              s"${kw("add")}$sp$colKw${id(n)}$sp$typ$suffix${renderPos(pos)}")
          case 1 if model.nonEmpty =>
            val n = model(rnd.nextInt(model.size))
            model = model.filterNot(_ == n)
            Some(DropColumn(n) -> s"${kw("drop")}$sp$colKw${id(n)}")
          case 2 if model.nonEmpty =>
            val n = model(rnd.nextInt(model.size))
            val pos = genPos(model.filterNot(_ == n))
            model = moveTo(model, n, pos)
            Some(ModifyColumn(colMetaOf(n, typ + suffix), pos) ->
              s"${kw("modify")}$sp$colKw${id(n)}$sp$typ$suffix${renderPos(pos)}")
          case 3 if model.nonEmpty && fresh.nonEmpty =>
            val o = model(rnd.nextInt(model.size))
            val n = fresh.dequeue()
            val pos = genPos(model.filterNot(_ == o))
            model = moveTo(model.map(x => if (x == o) n else x), n, pos)
            Some(ChangeColumn(o, colMetaOf(n, typ + suffix), pos) ->
              s"${kw("change")}$sp$colKw${id(o)}$sp${id(n)}$sp$typ$suffix${renderPos(pos)}")
          case _ => None
        }
      }

      if (gen.nonEmpty) {
        checked += 1
        // sometimes interleave a non-column clause: must parse to nothing
        val clauses0 = gen.map(_._2)
        val clauses =
          if (rnd.nextBoolean()) {
            val i = rnd.nextInt(clauses0.size + 1)
            (clauses0.take(i) :+ s"${kw("add")}$sp${kw("index")} idx (id)") ++
              clauses0.drop(i)
          } else clauses0
        val tbl = (if (rnd.nextBoolean()) id("shop") + "." else "") + id("user")
        val ddl = s"${kw("alter")}$sp${kw("table")}$sp$tbl$sp${clauses.mkString("," + sp)}"

        // 1) the parser recovers EXACTLY the generated structured ops: the
        //    rendered spec between the column name and the FIRST/AFTER tail is
        //    typ+suffix verbatim, so metas must be colMetaOf-identical too
        val parsed = parseAlter(ddl)
        assert(parsed === gen.map(_._1), s"ops for DDL: $ddl")

        // 2) folding applyOp matches the independently-evolved order model
        val start: Seq[Decode.ColMeta] = startNames.map(n => Decode.ColMeta(n, "int(11)"))
        val applied = parsed.foldLeft(start)(applyOp)
        assert(applied.map(_.name) === model,
          s"column order for DDL: $ddl\nstart=$startNames")
      }
    }
    assert(checked > 300, s"sweep generated too few cases: $checked")
  }

  test("the decode stage compiles under whole-stage codegen: 4 tables x 2 " +
    "versions of bigint, varchar, double, datetime and an added column") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val reg = new SchemaRegistry
    val base = Seq(Decode.ColMeta("event_id", "bigint(20)"), Decode.ColMeta("user_id", "bigint(20)"),
      Decode.ColMeta("event_type", "varchar(16)"), Decode.ColMeta("value", "double"),
      Decode.ColMeta("ts", "datetime(6)"), Decode.ColMeta("props", "varchar(64)"))
    val tables = (0 until 4).map(t => s"events_$t")
    tables.foreach(t => reg.register("shop", t, base))
    def img(i: Int, noted: Boolean): Seq[String] =
      Seq(i.toString, (i % 7).toString, "view", s"$i.5", "2024-01-02 03:04:05.000006",
        "{\"k\":\"v\"}") ++ (if (noted) Seq(s"n$i") else Nil)
    val raw = tables.zipWithIndex.flatMap { case (t, k) =>
      val s0 = k * 1000L
      Seq(
        ("shop", t, "insert", 1L, s0 + 1, Seq(img(1, false), img(2, false)), null: String),
        ("shop", t, "update", 1L, s0 + 2, Seq(img(1, false), img(3, false)), null: String),
        ("shop", t, "alter", 1L, s0 + 3, null: Seq[Seq[String]],
          s"ALTER TABLE shop.$t ADD COLUMN note varchar(16)"),
        ("shop", t, "update", 1L, s0 + 4, Seq(img(2, true), img(4, true)), null: String),
        ("shop", t, "delete", 1L, s0 + 5, Seq(img(4, true)), null: String))
    }.toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query").repartition(2)
    val (out, _, cleanup) = reg.decodeBatchManaged(raw)
    try {
      val sorted = out.sortWithinPartitions("stmt_seq", "pair_pos")
      // collect, so an adaptive plan reaches its final, code-generated form
      assert(sorted.collect().length === 4 * 6, "per table: 2 inserts, 2 update pairs, alter, delete")
      assert(tables.forall(t => reg.versionsOf("shop", t).size == 2))
      val stages = new AdaptiveSparkPlanHelper {}
        .collect(sorted.queryExecution.executedPlan) { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, "the decode runs under whole-stage codegen")
      val limit = spark.sessionState.conf.hugeMethodLimit
      stages.foreach { w =>
        val (_, code) = w.doCodeGen()
        val stats = scala.util.Try(CodeGenerator.compile(code)._2)
          .fold(e => fail(s"stage ${w.codegenStageId} does not compile: $e"), identity)
        assert(stats.maxMethodCodeSize <= limit,
          s"stage ${w.codegenStageId}: largest method ${stats.maxMethodCodeSize} B > $limit B")
      }
    } finally cleanup()
  }
}
