package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.app.Engine
import graft.streaming.{CdcStream, Frame, KafkaStubBroker}

/** `cdc_backfill`: the events table rendered as binlog files ([[CdcGen]]) →
  * `Engine.start` over the `graft-cdc` DSv2 source (`wireFormat=binary`,
  * drift-aware schema registry) drained with `AvailableNow` under a fixed
  * trigger budget → three filtered file sinks, Kafka push to the stub
  * broker and TCP push to one subscriber. */
object CdcWorkloads {
  /** The file sinks' topic filters; Kafka and TCP take every envelope. */
  val FileSinks: Seq[(String, String, Int => Boolean)] = Seq(
    ("s01", "shop\\.events_[01]", t => t <= 1),
    ("s2", "shop\\.events_2", t => t == 2),
    ("s13", "shop\\.events_[13]", t => t == 1 || t == 3))

  val RowsPerFile = 5000

  /** The first 40k rows of the events table in three equal micro-batches of
    * ~19k envelopes, where per-record work dominates. */
  val Rows = 40000
  val Batches = 3
  val WarmRows = 2000

  /** The warm-up run drains its one file in one micro-batch. */
  val WarmBudget: Long = 4L << 20


  /** One TCP subscriber connection: connects (retrying until the service
    * binds) and keeps every CMD_EVENT payload. */
  final class Subscriber(port: Int) extends Thread("bench-subscriber") {
    setDaemon(true)
    val got = new ConcurrentLinkedQueue[String]()
    private val stopping = new AtomicBoolean(false)
    @volatile private var sock: java.net.Socket = _
    override def run(): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (sock == null && !stopping.get && System.currentTimeMillis() < deadline)
        try sock = new java.net.Socket("127.0.0.1", port)
        catch { case _: java.io.IOException => Thread.sleep(2) }
      if (sock == null) return
      val in = sock.getInputStream
      val re = new Frame.Reassembler
      val buf = new Array[Byte](1 << 16)
      try {
        var n = in.read(buf)
        while (n >= 0) {
          if (n > 0) re.feed(buf, n).foreach { case (cmd, b) =>
            if (cmd == Frame.CMD_EVENT) got.add(new String(b, StandardCharsets.UTF_8))
          }
          n = in.read(buf)
        }
      } catch { case _: java.io.IOException if stopping.get => () }
    }
    def close(): Unit = {
      stopping.set(true)
      Option(sock).foreach(s => scala.util.Try(s.close()))
      join(10000)
    }
  }

  def freePort(): Int = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete(); ()
  }

  def readLines(dir: String): Iterator[String] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-")).sortBy(_.getName)
    files.iterator.flatMap(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala)
  }

  /** Everything one engine run delivered, checked against the oracle. */
  final case class Delivery(check: EnvelopeCheck, sinkLines: Long, sinkDups: Long,
                            frames: Long, frameDups: Long, kafka: Long, kafkaDups: Long)

  /** Every stream checked against the oracle, and each file sink's own send
    * count (`sink.<name>.sends`) against the oracle's count for its
    * filter. */
  def checkDelivery(expected: IndexedSeq[CdcGen.Env], outDir: String, sub: Subscriber,
                    broker: KafkaStubBroker, sends: Map[String, Long]): Delivery = {
    val chk = new EnvelopeCheck(expected)
    val sinks = FileSinks.map { case (name, _, admits) =>
      val want = expected.count(e => admits(e.table)).toLong
      if (!sends.get(name).contains(want))
        chk.problems += s"$name: the engine counted ${sends.getOrElse(name, 0L)} sends, " +
          s"the filter admits $want envelopes"
      chk.stream(name, readLines(s"$outDir/$name"), admits)
    }
    val (frames, frameDups) = chk.stream("tcp", sub.got.asScala.iterator, _ => true)
    val kafkaVals = broker.received.asScala.iterator.flatMap(_.records.map(_._2))
    val (kafka, kafkaDups) = chk.stream("kafka", kafkaVals, _ => true)
    Delivery(chk, sinks.map(_._1).sum, sinks.map(_._2).sum, frames, frameDups, kafka, kafkaDups)
  }

  /** Distinct envelopes the subscriber holds. */
  def distinctFrames(sub: Subscriber): Int = {
    val s = new java.util.BitSet()
    sub.got.forEach { p =>
      val i = p.indexOf("\"event_index\":")
      if (i >= 0) {
        var j = i + 14; var v = 0
        while (j < p.length && Character.isDigit(p.charAt(j))) { v = v * 10 + (p.charAt(j) - '0'); j += 1 }
        s.set(v)
      }
    }
    s.cardinality()
  }

  /** Batch window (epoch ms) of one progress report. */
  def batchWindow(p: StreamingQueryProgress): (Long, Long) = {
    val s = java.time.Instant.parse(p.timestamp).toEpochMilli
    (s, s + p.durationMs.get("triggerExecution").longValue())
  }

  /** Engine-layer numbers from Spark's progress (medians per batch), the
    * per-batch job count and the gap (batch wall no Spark job covers). */
  def engineLayers(r: Report, progress: Seq[StreamingQueryProgress], rows: Seq[Tracer.JobRow]): Unit = {
    def med(k: String) = Stats.median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)))
    r.gauge("engine.latest_offset_ms", med("latestOffset"), "ms")
    r.gauge("engine.query_planning_ms", med("queryPlanning"), "ms")
    r.gauge("engine.add_batch_ms", med("addBatch"), "ms")
    r.gauge("engine.wal_commit_ms", med("walCommit"), "ms")
    val perBatch = progress.map { p =>
      val (a, b) = batchWindow(p)
      val js = rows.filter(j => j.jobStart >= a && j.jobStart <= b)
      val covered = Tracer.unionMs(js.map(j => (math.max(a, j.jobStart), math.min(b, j.jobEnd))))
      (js.size.toDouble, (b - a) - covered)
    }
    r.gauge("engine.jobs_per_batch", Stats.median(perBatch.map(_._1)), "count")
    r.gauge("driver.gap_ms", Stats.median(perBatch.map(_._2)), "ms")
  }

  private def account(r: Report, what: String, expected: Int, d: Delivery): Unit = {
    r.account(expected, d.check.bad.cardinality())
    d.check.problems.foreach(p => r.fail(s"$what: $p"))
  }

  /** One pass: a fresh engine (checkpoint, pos cache, sinks, broker,
    * subscriber) drains `in` with AvailableNow under `budget`. Returns the
    * pass's seconds, its batches' progress, and the delivery, checked after
    * the timing. */
  def pass(spark: SparkSession, in: String, out: String, expected: IndexedSeq[CdcGen.Env],
           budget: Long): (Double, Seq[StreamingQueryProgress], Delivery, Engine.Handle) = {
    val broker = new KafkaStubBroker(numPartitions = 4)
    val port = freePort()
    val sub = new Subscriber(port)
    sub.start()
    val cfg = Engine.Config(
      inputDir = in, checkpointDir = s"$out/ckpt", posFile = s"$out/pos.bin",
      sinks = FileSinks.map { case (n, f, _) => CdcStream.SinkConfig(n, s"$out/$n", Seq(f)) },
      useDsv2Source = true, maxBytesPerTrigger = Some(budget), wireFormat = Some("binary"),
      tcpPubSubPort = Some(port), trigger = Trigger.AvailableNow(),
      schemaRegistry = Some(CdcGen.registry()),
      kafkaPush = Some(("127.0.0.1", broker.port, "wing")))
    val t0 = System.nanoTime()
    val h = Engine.start(spark, cfg)
    try {
      if (!h.awaitTermination(150000)) throw new IllegalStateException("pass timed out")
      val secs = (System.nanoTime() - t0) / 1e9
      h.query.exception.foreach(e => throw e)
      val progress = h.query.recentProgress.toSeq.filter(_.numInputRows > 0)
      // the push is synchronous per batch, but the service relays to the
      // subscriber asynchronously
      val deadline = System.currentTimeMillis() + 30000
      while (distinctFrames(sub) < expected.size && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      (secs, progress, checkDelivery(expected, out, sub, broker, h.metrics.sinkCounts), h)
    } finally {
      h.stop(); sub.close(); broker.stop()
    }
  }

  def run(spark: SparkSession, o: Main.Opts, r: Report, tracer: Option[Tracer]): Unit = {
    val work = Paths.get(o.work)
    // Set-up, repeated: reading the events table and rendering the binlog
    // (median of three).
    val genS = (1 to 3).map { _ =>
      rmrf(work.resolve("binlog").toFile)
      val t0 = System.nanoTime()
      val rows = CdcGen.events(spark, o.data, Rows + WarmRows)
      val tr = CdcGen.backfill(o.seed, work.resolve("binlog"), rows.take(Rows), RowsPerFile)
      ((System.nanoTime() - t0) / 1e9, (tr, rows))
    }
    val expected = genS.last._2._1.expected.toIndexedSeq
    // the trigger budget that cuts the binlog into `Batches` equal batches
    val budget = CdcGen.bytes(work.resolve("binlog")) / Batches + 1
    // Warm-up: one engine run over the next `WarmRows` rows under another
    // seed (codegen, JIT).
    val tw = System.nanoTime()
    val warm = CdcGen.backfill(o.seed + 7919, work.resolve("warm"), genS.last._2._2.drop(Rows),
      WarmRows)
    val (_, _, wd, _) = pass(spark, work.resolve("warm").toString,
      work.resolve("warm_out").toString, warm.expected.toIndexedSeq, WarmBudget)
    account(r, "warm-up", warm.expected.size, wd)
    r.setup("generation (median of 3)", Stats.median(genS.map(_._1)))
    r.setup("warm-up pass", (System.nanoTime() - tw) / 1e9)

    // Passes until the next one would overrun `seconds` (at least one).
    val passes = mutable.ArrayBuffer[(String, Double, Seq[StreamingQueryProgress])]()
    val windows = mutable.ArrayBuffer[(Long, Long)]()
    var last: (Delivery, Engine.Handle) = null
    val tStart = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - tStart) / 1e9 + passes.last._2 <= o.seconds) {
      val name = s"pass${passes.size}"
      val out = work.resolve(name).toString
      val w0 = System.currentTimeMillis()
      def one() = pass(spark, work.resolve("binlog").toString, out, expected, budget)
      val (secs, prog, d, h) = tracer.fold(one())(_.span("engine_run", name)(one()))
      windows += (w0 -> System.currentTimeMillis())
      account(r, name, expected.size, d)
      passes += ((name, secs, prog))
      last = (d, h)
      rmrf(new File(out))
    }
    def batchMs(ps: Seq[StreamingQueryProgress]) =
      ps.map(_.durationMs.get("triggerExecution").doubleValue())
    // Throughput over the micro-batches' own time: a query's start and stop
    // are paid once per engine run, not per batch.
    val envPerS = passes.map(p => expected.size / (batchMs(p._3).sum / 1e3)).toSeq
    val allMs = passes.flatMap(p => batchMs(p._3)).toSeq
    r.gauge("items_per_s", Stats.median(envPerS), "1/s")
    r.gauge("p50_ms", Stats.median(allMs), "ms")
    r.named("cdc_envelopes_per_s", Stats.median(envPerS), "envelopes/s", passes.size)
    r.named("cdc_batch_p50_ms", Stats.median(allMs), "ms", allMs.size)
    r.note(s"${o.workload}: ${expected.size} envelopes per pass, ${passes.size} pass(es) of " +
      s"${allMs.size / passes.size} micro-batches; batch ms ${allMs.map(_.toLong).mkString(",")}")
    tracer.foreach { t =>
      traced(t, r, windows.toSeq, passes.map(p => p._1 -> p._3).toSeq, last._1, last._2)
      CatalogQueries.traced(spark, o, r, t)
      r.gauge("engine.single_core_envelopes_per_s", singleCore(spark, o, r), "1/s")
    }
  }

  /** The traced run's layer split over `windows`, micro-batch spans under
    * their engine run's span, and the delivery counters. */
  private def traced(t: Tracer, r: Report, windows: Seq[(Long, Long)],
                     runs: Seq[(String, Seq[StreamingQueryProgress])], d: Delivery,
                     h: Engine.Handle): Unit = {
    runs.foreach { case (run, ps) => ps.foreach { p =>
      val (a, b) = batchWindow(p)
      t.addSpan("micro_batch", s"$run/batch${p.batchId}", run, a, b)
    } }
    val rows = t.jobsIn(windows)
    Tracer.layerMetrics(r, rows, Layers.Cdc)
    engineLayers(r, runs.flatMap(_._2), rows)
    r.gauge("engine.raw_rows", h.metrics.rawRows.get.toDouble, "count")
    r.gauge("engine.envelopes", h.metrics.envelopes.get.toDouble, "count")
    val sends = h.metrics.sinkCounts
    FileSinks.foreach { case (n, _, _) =>
      r.gauge(s"sink.$n.sends", sends.getOrElse(n, 0L).toDouble, "count") }
    r.gauge("sink.dup_ratio", d.sinkDups.toDouble / math.max(1L, d.sinkLines - d.sinkDups), "ratio")
    r.gauge("pubsub.frames", d.frames.toDouble, "count")
    r.gauge("pubsub.dup_ratio", d.frameDups.toDouble / math.max(1L, d.frames - d.frameDups), "ratio")
    r.gauge("kafka.records", d.kafka.toDouble, "count")
    r.gauge("kafka.dup_ratio", d.kafkaDups.toDouble / math.max(1L, d.kafka - d.kafkaDups), "ratio")
    r.gauge("trace.spans", t.spanCount.toDouble, "count")
  }

  /** The single-threaded baseline: the same traffic shape at `local[1]` in
    * this JVM (its codegen and JIT already warm), over 10k rows. Stops
    * `spark`. */
  private def singleCore(spark: SparkSession, o: Main.Opts, r: Report): Double = {
    spark.stop()
    val one = Main.session(1, o.work)
    try {
      val dir = Paths.get(o.work).resolve("single")
      val rows = CdcGen.events(one, o.data, 2 * RowsPerFile)
      val expected = CdcGen.backfill(o.seed, dir, rows, RowsPerFile).expected.toIndexedSeq
      val budget = CdcGen.bytes(dir) / 2 + 1
      val (_, progress, d, _) = pass(one, dir.toString, s"${o.work}/single_out", expected, budget)
      account(r, "single-core pass", expected.size, d)
      expected.size / (progress.map(_.durationMs.get("triggerExecution").doubleValue()).sum / 1e3)
    } finally one.stop()
  }
}
