package graft.app

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.{CdcStream, ControlClient}

/** End-to-end engine wiring: DSv2 source → envelopes → file sinks, with the
  * control plane stopping the query over the wire. */
class EngineSpec extends SparkSpec {

  private def tmp(): Path = Files.createTempDirectory("graft_engine")

  private def line(db: String, tbl: String, seq: Long): String =
    s"""{"database":"$db","table":"$tbl","action":"insert","ts":9,"stmt_seq":$seq,"rows":[[{"k":"id","v":"$seq"}]]}"""

  private def readSink(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".txt") && Files.isRegularFile(f))
      .flatMap(f => Files.readAllLines(f).asScala).toSeq
  }

  test("engine: DSv2 source with table filter -> envelope fan-out -> control stop") {
    val (in, cp, out) = (tmp(), tmp(), tmp())
    Files.write(in.resolve("bin.0001"),
      Seq(line("test", "city", 1), line("skip", "x", 2), line("test", "user", 3)).asJava)

    val handle = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = Seq(
        CdcStream.SinkConfig("all", s"$out/all"),
        CdcStream.SinkConfig("city_only", s"$out/city", Seq("\\.city$"))),
      useDsv2Source = true,
      tableFilter = Some("^test\\."),
      controlPort = Some(0)))
    try {
      assert(handle.awaitTermination(120000))
      assert(readSink(s"$out/all").size === 2)          // 'skip.x' filtered at the source
      val city = readSink(s"$out/city")
      assert(city.size === 1 && city.head.contains("\"table\":\"city\""))
      // control plane over the wire
      val ctl = handle.control.get
      assert(ControlClient.showMembers(ctl.boundPort) != null)
      assert(ControlClient.stop(ctl.boundPort) === "ok")
    } finally handle.stop()
  }

  test("binlog_row_metadata=FULL + EMPTY registry: the engine decodes typed " +
    "envelopes zero-config from the stream alone, restart-durable") {
    import graft.source.{BinlogFixtureWriter, BinlogWire}
    import BinlogWire._
    val (in, cp, out) = (tmp(), tmp(), tmp())
    val w = new BinlogFixtureWriter(checksum = true)
    w.fde()
    w.tableMapFull(10L, 5L, "shop", "acct",
      Seq(TYPE_LONG -> w.mNone, TYPE_TINY -> w.mNone, TYPE_VARCHAR -> w.mLe2(40)),
      names = Seq("id", "age", "name"), unsignedNumeric = Seq(false, true))
    w.rows(11L, WRITE_ROWS_V2, 5L, 3,
      Seq(Seq(w.vLong(1), w.vTiny(-6), w.vVarchar("ann", 40))))
    Files.write(in.resolve("binlog.000001"), w.bytes)

    val reg = new graft.cdc.SchemaRegistry // EMPTY: no register(), no server
    def run(): Unit = {
      val handle = Engine.start(spark, Engine.Config(
        inputDir = in.toString,
        checkpointDir = cp.toString,
        posFile = s"$out/pos.bin",
        sinks = Seq(CdcStream.SinkConfig("all", s"$out/all")),
        useDsv2Source = true,
        wireFormat = Some("binary"),
        schemaRegistry = Some(reg)))
      try assert(handle.awaitTermination(120000)) finally handle.stop()
    }
    run()
    val lines = readSink(s"$out/all")
    assert(lines.size === 1, s"one envelope, the schema line is control-plane: $lines")
    assert(lines.head.contains("""{"data":{"age":250,"id":1,"name":"ann"}}"""),
      s"typed decode (unsigned fix-up) with a never-registered schema: $lines")
    assert(reg.versionsOf("shop", "acct").size === 1)

    // restart + new traffic: the registry was persisted beside the pos cache,
    // so the new rows decode without re-seeing the schema observation
    w.rows(12L, WRITE_ROWS_V2, 5L, 3,
      Seq(Seq(w.vLong(2), w.vTiny(7), w.vVarchar("bob", 40))))
    Files.write(in.resolve("binlog.000001"), w.bytes)
    val reg2 = new graft.cdc.SchemaRegistry // fresh instance, like a restart
    val handle2 = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = Seq(CdcStream.SinkConfig("all", s"$out/all")),
      useDsv2Source = true,
      wireFormat = Some("binary"),
      schemaRegistry = Some(reg2)))
    try assert(handle2.awaitTermination(120000)) finally handle2.stop()
    val lines2 = readSink(s"$out/all")
    assert(lines2.size === 2, s"restart appends only the new row: $lines2")
    assert(lines2.exists(_.contains("""{"data":{"age":7,"id":2,"name":"bob"}}""")),
      s"$lines2")
  }

  test("replica capstone: binlog bytes -> engine decode -> Apply.latestState " +
    "== the master's final state, across an engine restart") {
    import graft.source.{BinlogFixtureWriter, BinlogWire}
    import BinlogWire._
    import org.apache.spark.sql.functions._
    val (in, cp, out) = (tmp(), tmp(), tmp())
    val w = new BinlogFixtureWriter(checksum = true)
    w.fde()
    w.tableMapFull(10L, 5L, "shop", "acct",
      Seq(TYPE_LONG -> w.mNone, TYPE_TINY -> w.mNone, TYPE_VARCHAR -> w.mLe2(40)),
      names = Seq("id", "age", "name"), unsignedNumeric = Seq(false, false))
    // run-1 traffic: insert 1,2; update 1; delete 2; insert 3
    w.rows(11L, WRITE_ROWS_V2, 5L, 3, Seq(
      Seq(w.vLong(1), w.vTiny(30), w.vVarchar("ann", 40)),
      Seq(w.vLong(2), w.vTiny(20), w.vVarchar("bob", 40))))
    w.rows(12L, UPDATE_ROWS_V2, 5L, 3, Seq(
      Seq(w.vLong(1), w.vTiny(30), w.vVarchar("ann", 40)),
      Seq(w.vLong(1), w.vTiny(31), w.vVarchar("anne", 40))))
    w.rows(13L, DELETE_ROWS_V2, 5L, 3,
      Seq(Seq(w.vLong(2), w.vTiny(20), w.vVarchar("bob", 40))))
    w.rows(14L, WRITE_ROWS_V2, 5L, 3,
      Seq(Seq(w.vLong(3), w.vTiny(25), w.vVarchar("cat", 40))))
    Files.write(in.resolve("binlog.000001"), w.bytes)

    def run(): Unit = {
      val handle = Engine.start(spark, Engine.Config(
        inputDir = in.toString,
        checkpointDir = cp.toString,
        posFile = s"$out/pos.bin",
        sinks = Seq(CdcStream.SinkConfig("all", s"$out/all")),
        useDsv2Source = true,
        wireFormat = Some("binary"),
        schemaRegistry = Some(new graft.cdc.SchemaRegistry))) // FULL metadata registers from the stream
      try assert(handle.awaitTermination(120000)) finally handle.stop()
    }
    run()

    // run-2 traffic lands AFTER a restart: update 3; delete 1; re-insert 2
    w.rows(15L, UPDATE_ROWS_V2, 5L, 3, Seq(
      Seq(w.vLong(3), w.vTiny(25), w.vVarchar("cat", 40)),
      Seq(w.vLong(3), w.vTiny(26), w.vVarchar("cathy", 40))))
    w.rows(16L, DELETE_ROWS_V2, 5L, 3,
      Seq(Seq(w.vLong(1), w.vTiny(31), w.vVarchar("anne", 40))))
    w.rows(17L, WRITE_ROWS_V2, 5L, 3,
      Seq(Seq(w.vLong(2), w.vTiny(40), w.vVarchar("ben", 40))))
    Files.write(in.resolve("binlog.000001"), w.bytes)
    run()

    // the delivered envelope stream (both runs' sink files), parsed back into
    // a change frame and applied: the replica must equal the master's state
    val envs = spark.createDataset(readSink(s"$out/all"))(
      org.apache.spark.sql.Encoders.STRING).toDF("value")
    val changes = envs.select(
      get_json_object(col("value"), "$.event_index").cast("long").as("seq"),
      get_json_object(col("value"), "$.event_type").as("action"),
      coalesce(get_json_object(col("value"), "$.event.data.new_data.id"),
        get_json_object(col("value"), "$.event.data.id")).cast("long").as("pk"),
      coalesce(get_json_object(col("value"), "$.event.data.new_data.age"),
        get_json_object(col("value"), "$.event.data.age")).cast("long").as("age"),
      coalesce(get_json_object(col("value"), "$.event.data.new_data.name"),
        get_json_object(col("value"), "$.event.data.name")).as("name"))
    val replica = graft.cdc.Apply.latestState(
        changes, Seq("pk"), "seq", col("action") === "delete")
      .select("pk", "age", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(replica === Set((2L, 40L, "ben"), (3L, 26L, "cathy")),
      s"replica after insert/update/delete/reinsert across a restart: $replica")
  }

  test("P2 hot reload: CTRL_RELOAD swaps the sink set; the next batch fans out to it") {
    val (in, cp, out) = (tmp(), tmp(), tmp())
    Files.write(in.resolve("bin.0001"), Seq(line("test", "city", 1)).asJava)

    val sinkA = CdcStream.SinkConfig("a", s"$out/a")
    val sinkB = CdcStream.SinkConfig("b", s"$out/b")
    // The "config source" the reload re-reads (the reference re-reads TOML,
    // `main.go:169-187`); here a mutable holder the test flips.
    @volatile var configured: Seq[CdcStream.SinkConfig] = Seq(sinkA)

    val handle = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = configured,
      controlPort = Some(0),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200),
      reloadSinks = Some(_ => configured)))
    try {
      def awaitSink(dir: String, n: Int): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (readSink(dir).size < n && System.currentTimeMillis() < deadline) Thread.sleep(200)
      }
      awaitSink(s"$out/a", 1)
      assert(readSink(s"$out/a").size === 1 && readSink(s"$out/b").isEmpty)

      configured = Seq(sinkA, sinkB)
      assert(ControlClient.reload(handle.control.get.boundPort, "subscribe") === "ok")
      assert(handle.currentSinks.map(_.name) === Seq("a", "b"))

      Files.write(in.resolve("bin.0002"), Seq(line("test", "user", 2)).asJava)
      awaitSink(s"$out/b", 1)
      val b = readSink(s"$out/b")
      assert(b.size === 1 && b.head.contains("\"table\":\"user\""),
        "sink added via reload receives exactly the post-reload batch")
      assert(readSink(s"$out/a").size === 2)
    } finally handle.stop()
  }

  test("positional stream with live drift: alter in one batch governs the next") {
    val (in, cp, out) = (tmp(), tmp(), tmp())
    def pos(db: String, tbl: String, action: String, seq: Long, rows: String, query: String): String = {
      val q = if (query == null) "null" else "\"" + query.replace("\"", "\\\"") + "\""
      s"""{"database":"$db","table":"$tbl","action":"$action","ts":9,"stmt_seq":$seq,"rows":$rows,"query":$q}"""
    }
    Files.write(in.resolve("bin.0001"), Seq(
      pos("shop", "user", "insert", 1L, """[["1","ann"]]""", null),
      pos("shop", "user", "alter", 2L, "null",
        "ALTER TABLE shop.user ADD COLUMN age tinyint unsigned AFTER id")).asJava)

    val reg = new graft.cdc.SchemaRegistry
    reg.register("shop", "user", Seq(
      graft.cdc.Decode.ColMeta("id", "int(11)"),
      graft.cdc.Decode.ColMeta("name", "varchar(16)")))

    val handle = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = Seq(CdcStream.SinkConfig("all", s"$out/all")),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200),
      schemaRegistry = Some(reg)))
    try {
      def await(n: Int): Seq[String] = {
        val deadline = System.currentTimeMillis() + 60000
        while (readSink(s"$out/all").size < n && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        readSink(s"$out/all")
      }
      assert(await(2).size === 2)
      // Batch 2 arrives AFTER the alter was consumed: 3-slot row images.
      Files.write(in.resolve("bin.0002"), Seq(
        pos("shop", "user", "insert", 3L, """[["2","-6","bob"]]""", null)).asJava)
      val all = await(3)
      val v1 = all.find(_.contains("\"event_index\":1")).get
      val v2 = all.find(_.contains("\"event_index\":3")).get
      assert(v1.contains("""{"data":{"id":1,"name":"ann"}}"""))
      assert(v2.contains("""{"data":{"age":250,"id":2,"name":"bob"}}"""),
        "post-alter row decodes with the drifted schema incl. unsigned fix-up")
    } finally handle.stop()
  }

  test("drift survives an engine RESTART: committed ALTERs decode post-recovery batches") {
    val (in, cp, out) = (tmp(), tmp(), tmp())
    def pos(db: String, tbl: String, action: String, seq: Long, rows: String, query: String): String = {
      val q = if (query == null) "null" else "\"" + query.replace("\"", "\\\"") + "\""
      s"""{"database":"$db","table":"$tbl","action":"$action","ts":9,"stmt_seq":$seq,"rows":$rows,"query":$q}"""
    }
    def baseReg(): graft.cdc.SchemaRegistry = {
      val r = new graft.cdc.SchemaRegistry
      r.register("shop", "user", Seq(
        graft.cdc.Decode.ColMeta("id", "int(11)"),
        graft.cdc.Decode.ColMeta("name", "varchar(16)")))
      r
    }
    def run(reg: graft.cdc.SchemaRegistry): Unit = {
      val h = Engine.start(spark, Engine.Config(
        inputDir = in.toString,
        checkpointDir = cp.toString,
        posFile = s"$out/pos.bin",
        sinks = Seq(CdcStream.SinkConfig("all", s"$out/all")),
        schemaRegistry = Some(reg))) // AvailableNow: drain and stop
      try assert(h.awaitTermination(120000)) finally h.stop()
    }

    // Run 1 consumes and COMMITS the batch carrying the ALTER.
    Files.write(in.resolve("bin.0001"), Seq(
      pos("shop", "user", "insert", 1L, """[["1","ann"]]""", null),
      pos("shop", "user", "alter", 2L, "null",
        "ALTER TABLE shop.user ADD COLUMN age tinyint unsigned AFTER id")).asJava)
    run(baseReg())

    // Crash/restart: a FRESH registry with only the base schema — the ALTER's
    // batch is committed, Spark will not replay it. New rows are 3-slot.
    Files.write(in.resolve("bin.0002"), Seq(
      pos("shop", "user", "insert", 3L, """[["2","-6","bob"]]""", null)).asJava)
    run(baseReg())

    val all = readSink(s"$out/all")
    val v2 = all.find(_.contains("\"event_index\":3"))
    assert(v2.isDefined, s"post-restart batch must decode: $all")
    assert(v2.get.contains("""{"data":{"age":250,"id":2,"name":"bob"}}"""),
      "the restored registry must decode under the COMMITTED ALTER's schema " +
        s"(stale base schema would mis-slot every column after id): ${v2.get}")
  }

  test("positional-wire config without a registry fails fast, not silently empty") {
    val (in, cp, out) = (tmp(), tmp(), tmp())
    val e = intercept[IllegalArgumentException] {
      Engine.start(spark, Engine.Config(
        inputDir = in.toString, checkpointDir = cp.toString,
        posFile = s"$out/pos.bin", useDsv2Source = true,
        wireFormat = Some("binary"), schemaRegistry = None))
    }
    assert(e.getMessage.contains("schemaRegistry"))
    val e2 = intercept[IllegalArgumentException] {
      Engine.start(spark, Engine.Config(
        inputDir = in.toString, checkpointDir = cp.toString,
        posFile = s"$out/pos.bin", useDsv2Source = false,
        wireFormat = Some("binary"),
        schemaRegistry = Some(new graft.cdc.SchemaRegistry)))
    }
    assert(e2.getMessage.contains("useDsv2Source"))
  }

  test("drift + DSv2 compose: admission-controlled source feeds the registry") {
    val (in, cp, out) = (tmp(), tmp(), tmp())
    def pos(db: String, tbl: String, action: String, seq: Long, rows: String, query: String): String = {
      val q = if (query == null) "null" else "\"" + query.replace("\"", "\\\"") + "\""
      s"""{"database":"$db","table":"$tbl","action":"$action","ts":9,"stmt_seq":$seq,"rows":$rows,"query":$q}"""
    }
    val lines = Seq(
      pos("shop", "user", "insert", 1L, """[["1","ann"]]""", null),
      pos("shop", "user", "alter", 2L, "null",
        "ALTER TABLE shop.user ADD COLUMN age tinyint unsigned AFTER id"),
      pos("shop", "user", "insert", 3L, """[["2","-6","bob"]]""", null),
      pos("other", "t", "insert", 4L, """[["x"]]""", null)) // dropped: table filter
    Files.write(in.resolve("bin.0001"), lines.asJava)

    val reg = new graft.cdc.SchemaRegistry
    reg.register("shop", "user", Seq(
      graft.cdc.Decode.ColMeta("id", "int(11)"),
      graft.cdc.Decode.ColMeta("name", "varchar(16)")))

    val handle = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = Seq(CdcStream.SinkConfig("all", s"$out/all")),
      useDsv2Source = true,
      tableFilter = Some("^shop\\."),
      // byte budget forces MULTIPLE micro-batches: the ALTER lands in an
      // earlier batch than the row it governs, through the DSv2 source
      maxBytesPerTrigger = Some(lines.head.length.toLong + 1),
      schemaRegistry = Some(reg)))
    try {
      assert(handle.awaitTermination(120000))
      val all = readSink(s"$out/all")
      assert(all.size === 3, s"3 shop.user envelopes (other.t source-filtered): $all")
      assert(all.exists(_.contains("""{"data":{"id":1,"name":"ann"}}""")))
      assert(all.exists(_.contains("""{"data":{"age":250,"id":2,"name":"bob"}}""")),
        "row admitted in a LATER micro-batch decodes under the drifted schema")
    } finally handle.stop()
  }

  test("K4 kafka push tier: engine produces keyed wire-protocol batches to a broker") {
    val (in, cp, out) = (tmp(), tmp(), tmp())
    Files.write(in.resolve("bin.0001"),
      (1L to 6L).map(i => line("test", if (i % 2 == 0) "city" else "user", i)).asJava)
    // 3-partition topic: the engine's push tier must discover the layout via
    // Metadata and hash each db.table key to its murmur2 partition
    val broker = new graft.streaming.KafkaStubBroker(numPartitions = 3)
    val handle = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = Nil,
      kafkaPush = Some(("127.0.0.1", broker.port, "wing"))))
    try {
      assert(handle.awaitTermination(120000))
      val recs = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val partOf = scala.collection.mutable.Map[String, scala.collection.mutable.Set[Int]]()
      broker.received.forEach { b =>
        assert(b.crcOk && b.codec == 2)
        recs ++= b.records
        b.records.foreach { case (k, _) =>
          partOf.getOrElseUpdate(k, scala.collection.mutable.Set.empty) += b.partition
        }
      }
      assert(recs.size === 6, s"all 6 envelopes produced, got ${recs.size}")
      assert(recs.map(_._1).toSet === Set("test.city", "test.user"),
        "kafka key = database.table (producer.go:66-73)")
      assert(recs.forall(_._2.contains("\"event_index\":")))
      partOf.foreach { case (k, ps) =>
        val want = graft.streaming.KafkaWire.partitionFor(
          k.getBytes(java.nio.charset.StandardCharsets.UTF_8), 3)
        assert(ps.toSet === Set(want), s"key $k must land only on its hash partition")
      }
    } finally { handle.stop(); broker.stop() }
  }

  test("capstone: binlog BYTES -> binary DSv2 source -> drift decode -> kafka wire") {
    // The full real-user pipeline the reference implements, end to end:
    // crafted MySQL binlog bytes tailed by the binary wire reader through the
    // DSv2 source, rows decoded under live schema drift, envelopes produced
    // to a (stub) Kafka broker over the wire protocol.
    val (in, cp, out) = (tmp(), tmp(), tmp())
    val w = new graft.source.BinlogFixtureWriter(checksum = true)
    w.fde()
    import graft.source.BinlogWire._
    w.tableMap(10L, 5L, "shop", "user",
      Seq(TYPE_LONG -> w.mNone, TYPE_VARCHAR -> w.mLe2(40)))
    w.rows(10L, WRITE_ROWS_V2, 5L, 2, Seq(Seq(w.vLong(1), w.vVarchar("ann", 40))))
    w.query(12L, "shop", "ALTER TABLE shop.user ADD COLUMN age tinyint unsigned AFTER id")
    w.tableMap(13L, 6L, "shop", "user",
      Seq(TYPE_LONG -> w.mNone, TYPE_TINY -> w.mNone, TYPE_VARCHAR -> w.mLe2(40)))
    w.rows(13L, WRITE_ROWS_V2, 6L, 3, Seq(Seq(w.vLong(2), w.vTiny(-6), w.vVarchar("bob", 40))))
    Files.write(in.resolve("binlog.000001"), w.bytes)

    val reg = new graft.cdc.SchemaRegistry
    reg.register("shop", "user", Seq(
      graft.cdc.Decode.ColMeta("id", "int(11)"),
      graft.cdc.Decode.ColMeta("name", "varchar(40)")))
    val broker = new graft.streaming.KafkaStubBroker

    val handle = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = Seq(CdcStream.SinkConfig("all", s"$out/all")),
      useDsv2Source = true,
      wireFormat = Some("binary"),
      schemaRegistry = Some(reg),
      kafkaPush = Some(("127.0.0.1", broker.port, "wing"))))
    try {
      assert(handle.awaitTermination(120000))
      val all = readSink(s"$out/all")
      assert(all.size === 3, s"insert + alter + post-drift insert: $all")
      assert(all.exists(_.contains("""{"data":{"id":1,"name":"ann"}}""")))
      assert(all.exists(_.contains("""{"data":{"age":250,"id":2,"name":"bob"}}""")),
        "binary row image decoded under the drifted schema with unsigned fix-up")
      assert(all.exists(l => l.contains("\"event_type\":\"alter\"") && !l.contains("\"event\":")),
        "alter envelope carries no event key")
      val kafka = scala.collection.mutable.ArrayBuffer[(String, String)]()
      broker.received.forEach(b => { assert(b.crcOk && b.codec == 2); kafka ++= b.records })
      assert(kafka.size === 3 && kafka.forall(_._1 == "shop.user"))
    } finally { handle.stop(); broker.stop() }
  }

  test("binary DSv2 batch keeps its source partitions: no range shuffle, exact " +
    "raw rows and per-sink sends, dense indices in binlog order") {
    import graft.source.BinlogFixtureWriter
    import graft.source.BinlogWire._
    val (in, cp, out) = (tmp(), tmp(), tmp())
    // two binlog files: two source partitions, the second's bytes after the first's
    def binlog(name: String, id: Int): Unit = {
      val w = new BinlogFixtureWriter(checksum = true)
      w.fde()
      val cols = Seq(TYPE_LONG -> w.mNone, TYPE_VARCHAR -> w.mLe2(40))
      w.tableMap(10L, 5L, "shop", "user", cols)
      w.tableMap(10L, 6L, "shop", "item", cols)
      def img(i: Int, v: String) = Seq(w.vLong(i), w.vVarchar(v, 40))
      w.rows(11L, WRITE_ROWS_V2, 5L, 2, Seq(img(id, "a"), img(id + 1, "b")))
      w.rows(12L, UPDATE_ROWS_V2, 5L, 2,
        Seq(img(id, "a"), img(id, "A"), img(id + 1, "b"), img(id + 1, "B"))) // two pairs
      w.rows(13L, WRITE_ROWS_V2, 6L, 2, Seq(img(id, "i")))
      w.rows(14L, DELETE_ROWS_V2, 5L, 2, Seq(img(id, "A")))
      Files.write(in.resolve(name), w.bytes)
    }
    binlog("binlog.000001", 1)
    binlog("binlog.000002", 100)
    val reg = new graft.cdc.SchemaRegistry
    Seq("user", "item").foreach(t => reg.register("shop", t, Seq(
      graft.cdc.Decode.ColMeta("id", "int(11)"), graft.cdc.Decode.ColMeta("v", "varchar(40)"))))

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val handle = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = Seq(
        CdcStream.SinkConfig("all", s"$out/all"),
        CdcStream.SinkConfig("users", s"$out/users", Seq("\\.user$")),
        CdcStream.SinkConfig("items", s"$out/items", Seq("item"))),
      useDsv2Source = true,
      wireFormat = Some("binary"),
      schemaRegistry = Some(reg)))
    try {
      assert(handle.awaitTermination(120000))
      val m = handle.metrics
      assert(m.batches.get === 1, m.render)
      assert(m.rawRows.get === 8, s"4 row events per file: ${m.render}")
      assert(m.envelopes.get === 12, s"2 inserts + 2 update pairs + 1 + 1 per file: ${m.render}")
      assert(m.sinkCounts === Map("all" -> 12L, "users" -> 10L, "items" -> 2L), m.render)
      assert(readSink(s"$out/users").size === 10 && readSink(s"$out/items").size === 2)
      val byIndex = readSink(s"$out/all").map { l =>
        ("\"event_index\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong,
          "\"id\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toInt)
      }.sorted
      assert(byIndex.map(_._1) === (1L to 12L), "dense from 1")
      assert(byIndex.take(6).forall(_._2 < 100) && byIndex.drop(6).forall(_._2 >= 100),
        s"indices follow binlog order across the two files: $byIndex")
      // the listener bus delivers in order: once the batch's three sink
      // writes are seen, every earlier execution of the batch is too
      val deadline = System.currentTimeMillis() + 30000
      def writes = plans.asScala.count(_.contains("InsertIntoHadoopFsRelationCommand"))
      while (writes < 3 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(writes === 3)
      assert(plans.asScala.exists(_.contains("__pid")), "the index aggregate ran")
      assert(!plans.asScala.exists(_.toLowerCase.contains("rangepartitioning")),
        plans.asScala.filter(_.toLowerCase.contains("rangepartitioning")).mkString("\n"))
    } finally {
      handle.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("push tier: executors stream envelopes to the pub/sub service; no driver collect") {
    val (in, cp, out) = (tmp(), tmp(), tmp())
    Files.write(in.resolve("bin.0001"),
      (1L to 5L).map(i => line("test", "city", i)).asJava)

    val handle = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = Seq(CdcStream.SinkConfig("all", s"$out/all")),
      tcpPubSubPort = Some(0),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200)))
    try {
      val svc = handle.pubsub.get
      // Live subscriber (no SET_PRO topics ⇒ receives everything).
      val sock = new java.net.Socket("127.0.0.1", svc.boundPort)
      val re = new graft.streaming.Frame.Reassembler
      val buf = new Array[Byte](4096)
      val events = scala.collection.mutable.ArrayBuffer[String]()
      val deadline = System.currentTimeMillis() + 60000
      sock.setSoTimeout(1000)
      while (events.size < 5 && System.currentTimeMillis() < deadline) {
        try {
          val n = sock.getInputStream.read(buf)
          if (n > 0) events ++= re.feed(buf, n).collect {
            case (graft.streaming.Frame.CMD_EVENT, b) => new String(b, "UTF-8")
          }
        } catch { case _: java.net.SocketTimeoutException => () }
      }
      sock.close()
      assert(events.size === 5, s"subscriber must receive all 5 envelopes, got ${events.size}")
      assert(events.forall(_.contains("\"table\":\"city\"")))
      // Replay-stable dedup key is in the payload (at-least-once contract).
      assert(events.forall(_.contains("\"event_index\":")))
      // In event_index order: the push path sorts then streams through one task.
      val idx = events.map(e => "\"event_index\":(\\d+)".r.findFirstMatchIn(e).get.group(1).toLong)
      assert(idx.toSeq === idx.sorted.toSeq)
    } finally handle.stop()
  }

  test("observability: metrics count envelopes + per-sink sends for a known batch; " +
    "the progress listener folds Spark's own numbers in; status carries the line") {
    val (in, cp, out) = (tmp(), tmp(), tmp())
    Files.write(in.resolve("bin.0001"),
      Seq(line("test", "city", 1), line("test", "user", 2), line("test", "user", 3)).asJava)

    val handle = Engine.start(spark, Engine.Config(
      inputDir = in.toString,
      checkpointDir = cp.toString,
      posFile = s"$out/pos.bin",
      sinks = Seq(
        CdcStream.SinkConfig("all", s"$out/all"),
        CdcStream.SinkConfig("city_only", s"$out/city", Seq("\\.city$"))),
      controlPort = Some(0)))
    try {
      assert(handle.awaitTermination(120000))
      val m = handle.metrics
      // pipeline-side counters: exact for the known batch
      assert(m.envelopes.get === 3, s"3 single-row inserts: ${m.render}")
      assert(m.batches.get === 1, m.render)
      assert(m.sinkCounts === Map("all" -> 3L, "city_only" -> 1L),
        s"per-sink sends (the reference's per-connection times counter): ${m.render}")
      assert(m.envelopesPerSec > 0.0)
      // Spark-side numbers arrive via the listener bus (async): wait for them
      val deadline = System.currentTimeMillis() + 30000
      while (m.lastProgress.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(m.lastProgress.nonEmpty, "no QueryProgressEvent observed")
      assert(m.rawRows.get === 3, s"exact raw-statement count: ${m.render}")
      // the control plane's status line carries the rendered counters
      val status = ControlClient.showMembers(handle.control.get.boundPort)
      assert(status.contains("envelopes=3") && status.contains("city_only:1"),
        s"status: $status")
    } finally handle.stop()
  }

  test("IVM capstone: wire stream -> running delta aggregates AND SCD1 replica, " +
    "each ONE streaming query on RocksDB, exact across an engine restart") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import graft.streaming.Analytics

    val rocksKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(rocksKey)
    spark.conf.set(rocksKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (in, cpAgg, cpRep) = (tmp(), tmp(), tmp())
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("grp", StringType), StructField("amt", LongType)))
      val Q = "\\\"" // backslash-quote: JSON escape for an embedded quote (the
      // s-interpolator processes \" even in triple quotes, so it can't be inline)
      def img(id: Long, grp: String, amt: Long): String =
        s"""[{"k":"id","v":"$id"},{"k":"grp","v":"$Q$grp$Q"},{"k":"amt","v":"$amt"}]"""
      def stmt(action: String, seq: Long, rows: String): String =
        s"""{"database":"test","table":"acct","action":"$action","ts":9,"stmt_seq":$seq,"rows":$rows}"""

      // run-1 traffic: 2-row insert; group-moving update; delete
      Files.write(in.resolve("bin.0001"), Seq(
        stmt("insert", 1, s"[${img(1, "A", 5)},${img(2, "A", 7)}]"),
        stmt("update", 2, s"[${img(1, "A", 5)},${img(1, "B", 8)}]"),
        stmt("delete", 3, s"[${img(2, "A", 7)}]")).asJava)

      val cfg = Engine.Config(inputDir = in.toString, checkpointDir = "unused",
        posFile = "unused", useDsv2Source = true)
      // foreachBatch collector: the memory sink refuses checkpoint RECOVERY,
      // and recovery is exactly what this test exercises — so emissions are
      // collected driver-side per batch (the sink a production run would
      // replace with an upsert/kafka writer)
      def runCollect(mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                     cp: Path): Seq[(Long, org.apache.spark.sql.Row)] = {
        val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, org.apache.spark.sql.Row)]()
        val q = Engine.analyticsStream(spark, cfg)(mk)
          .writeStream
          .outputMode(OutputMode.Update()).trigger(Trigger.AvailableNow())
          .option("checkpointLocation", cp.toString)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            df.collect().foreach(r => buf.add((id, r)))
          }.start()
        try { assert(q.awaitTermination(120000)) } finally q.stop()
        import scala.jdk.CollectionConverters._
        buf.iterator().asScala.toSeq
      }
      def runAgg(): Map[String, (Long, Long)] =
        runCollect(raw => Analytics.runningAggregates(
            raw, "test", "acct", schema, Seq("grp"), "amt"), cpAgg)
          .groupBy(_._2.getString(0))
          // last emission per group (batch order) = its running value
          .map { case (g, rs) => val r = rs.maxBy(_._1)._2; g -> (r.getLong(1), r.getLong(2)) }
      def runRep(): Seq[(Long, Long, String, Long, Boolean)] =
        runCollect(raw => Analytics.replicaStream(
            raw, "test", "acct", schema, Seq("id")), cpRep)
          .map(_._2).map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) null else r.getString(2),
            if (r.isNullAt(3)) 0L else r.getLong(3), r.getBoolean(4)))

      // --- run 1: exact running aggregates + replica from the wire stream
      val agg1 = runAgg()
      // A: +insert(1,5) +insert(1,7) −update.before(1,5) −delete(1,7) = (0, 0)
      // B: +update.after(1, 8)
      assert(agg1 === Map("A" -> (0L, 0L), "B" -> (1L, 8L)), s"run-1 totals: $agg1")
      val rep1 = runRep()
      val seq2 = (2L << 20) // stmt 2, pair 0
      assert(rep1.toSet === Set(
        (1L, seq2, "B", 8L, false),            // conflated to its update
        (2L, (3L << 20), null, 0L, true)),     // delete tombstone
        s"run-1 replica emissions: $rep1")

      // --- restart: new traffic lands in a new file; state must carry over
      Files.write(in.resolve("bin.0002"), Seq(
        stmt("insert", 4, s"[${img(3, "A", 2)}]"),
        stmt("update", 5, s"[${img(3, "A", 2)},${img(3, "A", 4)}]"),
        // stale replay for key 1 (stmt_seq 0 < its stored seq): must be
        // ignored BY STATE remembered across the restart
        stmt("insert", 0, s"[${img(1, "Z", 99)}]")).asJava)

      val agg2 = runAgg()
      // A continues from (0,0): +insert(1,2) −before(1,2) +after(1,4) = (1, 4);
      // Z appears: the IVM tier counts every change row (no per-key dedup —
      // dedup is the replica's job); stale-change handling is asserted there
      assert(agg2("A") === (1L, 4L),
        s"running aggregate must continue from pre-restart state: $agg2")
      val rep2 = runRep()
      assert(rep2.map(_._1).toSet === Set(3L),
        s"restarted replica: new key 3 emitted, stale key-1 change IGNORED " +
          s"by state carried across restart: $rep2")
      assert(rep2.toSet === Set((3L, (5L << 20), "A", 4L, false)), s"$rep2")

      // multi-table: BOTH replicated tables in ONE stateful query over ONE
      // pass of the same wire stream (the router shape — handler.go:91-97)
      val userSchema = StructType(Seq(StructField("uid", LongType),
        StructField("name", StringType)))
      def ustmt(action: String, seq: Long, rows: String): String =
        s"""{"database":"test","table":"user","action":"$action","ts":9,"stmt_seq":$seq,"rows":$rows}"""
      def uimg(uid: Long, name: String): String =
        s"""[{"k":"uid","v":"$uid"},{"k":"name","v":"$Q$name$Q"}]"""
      Files.write(in.resolve("bin.0003"), Seq(
        stmt("insert", 6, s"[${img(9, "C", 3)}]"),
        ustmt("insert", 7, s"[${uimg(1, "ann")}]"),
        ustmt("update", 8, s"[${uimg(1, "ann")},${uimg(1, "bea")}]"),
        ustmt("delete", 9, s"[${uimg(1, "bea")}]")).asJava)
      val specs = Seq(
        Analytics.TableSpec("test", "acct", schema, Seq("id")),
        Analytics.TableSpec("test", "user", userSchema, Seq("uid")))

      // single pass: the one streaming query reads the source exactly once
      val multiDf = Analytics.multiReplicaStream(
        spark.readStream.schema(graft.streaming.CdcStream.rawSchema)
          .json(in.toString), specs)
      // (flatMapGroupsWithState adds an empty LocalRelation leaf for its
      // initial state — count the STREAMING relations, i.e. source scans)
      val sourceScans = multiDf.queryExecution.analyzed.collectLeaves().count(
        _.getClass.getName.contains("StreamingRelation"))
      assert(sourceScans === 1,
        "multi-table replica must scan the wire stream exactly once")

      val cpMulti = tmp()
      val multi = runCollect(raw => Analytics.multiReplicaStream(raw, specs), cpMulti)
        .map(_._2)
      val byTable = multi.groupBy(_.getString(1))
      // acct rows: full history replayed into the fresh checkpoint — the
      // CURRENT state per key is the highest-seq emission
      val acctFinal = byTable("acct")
        .groupBy(r => r.getString(2)).map(_._2.maxBy(_.getLong(3))).toSeq
        .map(r => (r.getString(2), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(9)))
      // key 1: stale Z-replay ignored → current is stmt-2 update (B, 8);
      // key 2: delete tombstone; key 3: stmt-5 update; key 9: new insert
      assert(acctFinal.toSet === Set(
        ("""{"id":1}""", 2L << 20, 1L, false),
        ("""{"id":2}""", 3L << 20, -1L, true),
        ("""{"id":3}""", 5L << 20, 3L, false),
        ("""{"id":9}""", 6L << 20, 9L, false)), s"acct: $acctFinal")
      // user key 1 ends deleted; its payload fields (incl. acct's) null
      val userFinal = byTable("user").maxBy(_.getLong(3))
      assert(userFinal.getString(2) === """{"uid":1}""")
      assert(userFinal.getLong(3) === (9L << 20) && userFinal.getBoolean(9),
        s"user tombstone: $userFinal")

      // RESTART the multi-table query on the same checkpoint: per-(table,
      // key) state must carry over — a stale acct change is suppressed by
      // state, a delete must not resurrect, and a fresh user key emits
      Files.write(in.resolve("bin.0004"), Seq(
        stmt("insert", 1, s"[${img(1, "STALE", 0)}]"), // seq 1<<20 < stored 2<<20
        ustmt("insert", 4, s"[${uimg(1, "ghost")}]"),  // 4<<20 < tombstone 9<<20
        ustmt("insert", 10, s"[${uimg(2, "cat")}]")).asJava)
      val multi2 = runCollect(raw => Analytics.multiReplicaStream(raw, specs), cpMulti)
        .map(_._2)
      val keys2 = multi2.map(r => (r.getString(1), r.getString(2))).toSet
      assert(keys2 === Set(("user", """{"uid":2}""")),
        s"restart: only the genuinely-new user key may emit (stale acct and " +
          s"pre-tombstone user changes are suppressed by carried state): $multi2")
      val cat = multi2.head
      assert(cat.getLong(3) === (10L << 20) && !cat.getBoolean(9) &&
        cat.getString(8) === "cat", s"user 2: $cat")

      // merged-schema type conflict is refused loudly
      val clashSchema = StructType(Seq(StructField("uid", LongType),
        StructField("grp", LongType))) // grp is STRING in acct
      val eType = intercept[IllegalArgumentException] {
        Analytics.multiTableChanges(
          spark.readStream.schema(graft.streaming.CdcStream.rawSchema)
            .json(in.toString),
          Seq(Analytics.TableSpec("test", "acct", schema, Seq("id")),
            Analytics.TableSpec("test", "user", clashSchema, Seq("uid"))))
      }
      assert(eType.getMessage.contains("grp"), eType.getMessage)

      // contract guards: reserved image field names and seq-packing range
      // are refused loudly, not silently miscomputed
      val badSchema = StructType(Seq(StructField("seq", LongType),
        StructField("v", LongType)))
      val eGuard = intercept[IllegalArgumentException] {
        Analytics.tableChanges(spark.range(1).toDF("x").selectExpr(
          "'d' AS database", "'t' AS table", "'insert' AS action",
          "0L AS ts", "0L AS stmt_seq",
          "CAST(NULL AS ARRAY<ARRAY<STRUCT<k:STRING,v:STRING>>>) AS rows"),
          "d", "t", badSchema)
      }
      assert(eGuard.getMessage.contains("reserves"), eGuard.getMessage)
      // new_data/old_data are reserved too: the merged from_json schema
      // appends both, so an image field with either name would build a
      // duplicate-field struct with ambiguous getField resolution
      for (nm <- Seq("new_data", "old_data")) {
        val clash = StructType(Seq(StructField(nm, LongType),
          StructField("v", LongType)))
        val eClash = intercept[IllegalArgumentException] {
          Analytics.tableChanges(spark.range(1).toDF("x").selectExpr(
            "'d' AS database", "'t' AS table", "'insert' AS action",
            "0L AS ts", "0L AS stmt_seq",
            "CAST(NULL AS ARRAY<ARRAY<STRUCT<k:STRING,v:STRING>>>) AS rows"),
            "d", "t", clash)
        }
        assert(eClash.getMessage.contains(nm), eClash.getMessage)
      }
    } finally {
      prior.fold(spark.conf.unset(rocksKey))(v => spark.conf.set(rocksKey, v))
    }
  }

  test("shardSpecs: deterministic, input-order independent, balanced within " +
    "one table, covering, and loud on duplicates") {
    import org.apache.spark.sql.types._
    import graft.streaming.Analytics
    val schema = StructType(Seq(StructField("id", LongType)))
    val specs = (1 to 11).map(i =>
      Analytics.TableSpec(s"db${i % 3}", s"t$i", schema, Seq("id")))
    val shards = Analytics.shardSpecs(specs, 4)
    assert(shards.size === 4)
    val sizes = shards.map(_.size)
    assert(sizes.max - sizes.min <= 1, s"unbalanced: $sizes")
    assert(shards.flatten.toSet === specs.toSet, "every spec lands in exactly one shard")
    assert(shards.flatten.size === specs.size)
    // pure function of the spec SET: a reordered config shards identically
    val reordered = Analytics.shardSpecs(scala.util.Random.shuffle(specs), 4)
    assert(reordered.map(_.map(sp => (sp.database, sp.table))) ===
      shards.map(_.map(sp => (sp.database, sp.table))))
    // n > specs.size: one shard per spec, no empties
    val wide = Analytics.shardSpecs(specs.take(2), 5)
    assert(wide.size === 2 && wide.forall(_.size == 1))
    intercept[IllegalArgumentException] { Analytics.shardSpecs(specs, 0) }
    intercept[IllegalArgumentException] {
      Analytics.shardSpecs(specs :+ specs.head, 2)
    }
  }
}
