package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.CdcStream.SinkConfig

/** End-to-end streaming tests: fan-out filtering, checkpointed restart with
  * event_index continuity (ST1-ST3), replay-stable numbering. */
class StreamingSpec extends SparkSpec {

  private def tmp(): Path = Files.createTempDirectory("graft_stream")

  private def rawLine(db: String, tbl: String, action: String, seq: Long, id: Long): String =
    s"""{"database":"$db","table":"$tbl","action":"$action","ts":100,"stmt_seq":$seq,""" +
      s""""rows":[[{"k":"id","v":"$id"},{"k":"name","v":"\\"n$id\\""}]]}"""

  private def writeFile(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), lines.asJava)

  private def readSink(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else Files.walk(p).iterator().asScala
      .filter(f => f.toString.endsWith(".txt") && Files.isRegularFile(f))
      .flatMap(f => Files.readAllLines(f).asScala)
      .toSeq
  }

  private def runOnce(in: Path, cp: Path, pos: Path, sinks: Seq[SinkConfig]): Unit = {
    val q = CdcStream.start(spark, in.toString, cp.toString, pos.toString, sinks)
    q.awaitTermination(120000)
  }

  test("fan-out: each sink receives exactly its filter-matched envelopes, serialized once") {
    val (in, cp, pos, out) = (tmp(), tmp(), tmp().resolve("pos.bin"), tmp())
    writeFile(in, "a.json", Seq(
      rawLine("test", "city", "insert", 1, 10),
      rawLine("shop", "orders", "insert", 2, 20),
      rawLine("test", "user", "delete", 3, 30)))
    val sinks = Seq(
      SinkConfig("all", s"$out/all"),
      SinkConfig("test_only", s"$out/test_only", Seq("test\\..*")),
      SinkConfig("kafka", s"$out/kafka", Nil, kafkaShaped = true))
    runOnce(in, cp, pos, sinks)

    val all = readSink(s"$out/all")
    val testOnly = readSink(s"$out/test_only")
    val kafka = readSink(s"$out/kafka")
    assert(all.size === 3)
    assert(testOnly.size === 2)
    assert(testOnly.forall(_.contains("\"database\":\"test\"")))
    assert(kafka.size === 3)
    // Kafka-shaped line = key TAB json, key = database.table (producer.go:66-73)
    kafka.foreach { l =>
      val Array(key, json) = l.split("\t", 2)
      assert(json.contains(s""""table":"${key.split("\\.")(1)}""""))
    }
    // Dense index 1..3 across the batch
    val idx = all.map(l => "\"event_index\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).sorted
    assert(idx === Seq(1L, 2L, 3L))
  }

  test("malformed lines are dropped; the stream keeps tailing (sync.go error tolerance)") {
    val (in, cp, pos, out) = (tmp(), tmp(), tmp().resolve("pos.bin"), tmp())
    writeFile(in, "a.json", Seq(
      rawLine("d", "t", "insert", 1, 1),
      "this is not json at all {{{",
      """{"unexpected":"shape"}""",
      rawLine("d", "t", "insert", 2, 2)))
    runOnce(in, cp, pos, Seq(SinkConfig("all", s"$out/all")))
    val got = readSink(s"$out/all")
    assert(got.size === 2, s"only the two valid statements flow: $got")
    assert(got.forall(_.contains("\"database\":\"d\"")))
  }

  test("kill-and-resume: restart from checkpoint keeps event_index dense and continuous (ST2/ST3)") {
    val (in, cp, pos, out) = (tmp(), tmp(), tmp().resolve("pos.bin"), tmp())
    val sinks = Seq(SinkConfig("all", s"$out/all"))
    writeFile(in, "a.json", (1L to 5L).map(i => rawLine("d", "t", "insert", i, i)))
    runOnce(in, cp, pos, sinks)           // batch 0: events 1..5
    writeFile(in, "b.json", (6L to 9L).map(i => rawLine("d", "t", "insert", i, i)))
    runOnce(in, cp, pos, sinks)           // restart: only the new file is processed

    val idx = readSink(s"$out/all")
      .map(l => "\"event_index\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).sorted
    assert(idx === (1L to 9L), s"expected dense continuous 1..9, got $idx")
    // `next` stores the last assigned index = the next batch's base.
    val (tag, start, next) = CdcStream.PosStore.read(pos.toString)
    assert((tag, start, next) === (("batch-1", 5L, 9L)))
  }

  test("replay of the same batch id re-assigns the SAME indices (replay-stable)") {
    import org.apache.spark.sql.functions._
    val (pos, out1, out2) = (tmp().resolve("pos.bin"), tmp(), tmp())
    import spark.implicits._
    val batch = Seq(
      ("d", "t", "insert", 100L, 1L, Seq(Seq(("id", "1")))),
      ("d", "t", "insert", 100L, 2L, Seq(Seq(("id", "2")))))
      .toDF("database", "table", "action", "ts", "stmt_seq", "rows")
      .withColumn("rows", expr("transform(rows, r -> transform(r, e -> named_struct('k', e._1, 'v', e._2)))"))
    CdcStream.processBatch(batch, 7L, pos.toString, Seq(SinkConfig("s", s"$out1/s")))
    val afterFirst = CdcStream.PosStore.read(pos.toString)
    CdcStream.processBatch(batch, 7L, pos.toString, Seq(SinkConfig("s", s"$out2/s")))  // replay
    val afterReplay = CdcStream.PosStore.read(pos.toString)
    assert(afterFirst === afterReplay)
    def indices(o: Path) = readSink(s"$o/s")
      .map(l => "\"event_index\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong).sorted
    assert(indices(out1) === indices(out2), "replayed batch must reuse its original indices")
  }

  test("no cached-frame leak: getPersistentRDDs is empty after N batches") {
    val (pos, out) = (tmp().resolve("pos.bin"), tmp())
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Relative to the session's pre-existing cache: other suites may hold
    // legitimate one-shot persists on the shared SparkSession.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (1L to 5L).foreach { id =>
      val batch = Seq(("d", "t", "insert", 100L, id, Seq(Seq(("id", id.toString)))))
        .toDF("database", "table", "action", "ts", "stmt_seq", "rows")
        .withColumn("rows", expr("transform(rows, r -> transform(r, e -> named_struct('k', e._1, 'v', e._2)))"))
      CdcStream.processBatch(batch, id, pos.toString, Seq(SinkConfig("s", s"$out/s")))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "each micro-batch must unpersist its intermediates (long-running engine leak)")
    assert(readSink(s"$out/s").size === 5)
  }

  test("subscriber registry: normalization, empty-topics match-all, filtered delivery") {
    val reg = new SubscriberRegistry
    reg.connect("phpClient")
    reg.addTopic("phpClient", " Test.* ")
    reg.addTopic("phpClient", "test.*")      // dedup after normalization
    reg.connect("firehose")                  // no topics => everything
    assert(reg.topicsOf("phpClient") === Seq("test.*"))
    assert(reg.matches("phpClient", "test.city"))
    assert(!reg.matches("phpClient", "shop.orders"))
    assert(reg.matches("firehose", "anything.at_all"))
    val sinks = reg.asSinks("/tmp/subs")
    assert(sinks.map(_.name) === Seq("firehose", "phpClient"))
  }

  test("TCP push of an in-order positional batch: frames in strictly increasing " +
    "event_index, no range sort in the push plan") {
    import spark.implicits._
    val reg = new graft.cdc.SchemaRegistry
    Seq("a", "b").foreach(t => reg.register("d", t,
      Seq(graft.cdc.Decode.ColMeta("id", "int(11)"), graft.cdc.Decode.ColMeta("v", "varchar(8)"))))
    // three source partitions, each a contiguous run of statements in binlog order
    val stmts = (1 to 60).map { i =>
      val imgs = if (i % 3 == 0) Seq(Seq(s"$i", "o"), Seq(s"$i", "n"), Seq(s"${i + 1}", "o"),
        Seq(s"${i + 1}", "n")) else Seq(Seq(s"$i", "x"))
      ("d", if (i % 2 == 0) "a" else "b", if (i % 3 == 0) "update" else "insert", 1L,
        i * 10L, imgs, null: String)
    }
    val batch = spark.sparkContext.parallelize(stmts, 3)
      .toDF("database", "table", "action", "ts", "stmt_seq", "rows", "query")
    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val frames = scala.collection.mutable.ArrayBuffer[String]()
    val reader = new Thread(() => {
      val sock = server.accept()
      try {
        val re = new Frame.Reassembler
        val buf = new Array[Byte](8192)
        var n = sock.getInputStream.read(buf)
        while (n >= 0) {
          frames.synchronized(frames ++= re.feed(buf, n).collect {
            case (Frame.CMD_PUBLISH, b) => new String(b, "UTF-8")
          })
          n = sock.getInputStream.read(buf)
        }
      } finally sock.close()
    })
    reader.start()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val pos = tmp().resolve("pos.bin").toString
    try {
      CdcStream.processPositionalBatch(batch, 0L, pos,
        Seq(SinkConfig("all", tmp().resolve("all").toString)), reg,
        pushTo = Some(("127.0.0.1", server.getLocalPort)))
      reader.join(30000)
      val idx = frames.synchronized(frames.toList).map(f =>
        "\"event_index\":(\\d+)".r.findFirstMatchIn(f).get.group(1).toLong)
      assert(idx === (1L to 80L).toList, "40 inserts + 20 updates of two pairs, in index order")
      val deadline = System.currentTimeMillis() + 30000
      def push = plans.asScala.filter(_.contains("Coalesce ("))
      while (push.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(push.size === 1, "the push ran as one coalesced job")
      assert(!plans.asScala.exists(_.toLowerCase.contains("rangepartitioning")),
        plans.asScala.filter(_.toLowerCase.contains("rangepartitioning")).mkString("\n"))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      server.close()
    }
  }
}
