package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The traced run's instrument, owned by the benchmark and attached from
  * outside the program:
  *
  *  - spans (name, start, end, parent; one `group` id per engine run,
  *    micro-batch, intake batch or query), kept in memory and written out
  *    when the run ends;
  *  - a `SparkListener` that maps every job to its SQL execution (the
  *    `spark.sql.execution.id` job property and
  *    `SparkListenerSQLExecutionStart`) and the execution to a layer
  *    ([[Layers]]). A job's own call site is never used: AQE stage
  *    sub-jobs all report `CompletableFuture`. */
final class Tracer private () extends SparkListener {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()

  /** Time `f` as a span; returns its result. */
  def span[T](name: String, group: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.currentTimeMillis()
    try f finally spans.add(Span(id, name, group, 0L, t0, System.currentTimeMillis()))
  }

  /** A span measured elsewhere (a micro-batch, from streaming progress),
    * under the span whose group is `parent`. */
  def addSpan(name: String, group: String, parent: String, startMs: Long, endMs: Long): Unit = {
    val p = spans.asScala.find(_.group == parent).fold(0L)(_.id)
    spans.add(Span(ids.incrementAndGet(), name, group, p, startMs, endMs))
  }

  def spanCount: Int = spans.size

  private final class Exec(val root: Long, val start: Long, val details: String,
                           val plan: String, val desc: String) { @volatile var end: Long = -1L }
  private final class Job(val exec: Long, val start: Long, val stageDetails: String) {
    @volatile var end: Long = -1L
    val taskMs = new AtomicLong(); val shuffleW = new AtomicLong()
    val failedTasks = new AtomicLong()
  }
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, new Exec(s.rootExecutionId.getOrElse(s.executionId),
        s.time, s.details, planNodes(s.sparkPlanInfo).mkString(">"), s.physicalPlanDescription))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach(_.end = s.time)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val j = new Job(exec, e.time, details)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      Option(e.taskMetrics).foreach { m =>
        j.taskMs.addAndGet(m.executorRunTime)
        j.shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
      if (e.reason != Success) j.failedTasks.incrementAndGet()
    }

  /** Layer of every SQL execution: by the first `graft.` frame of its
    * call site, or — for the actions of a micro-batch, whose call sites
    * Spark pins to the streaming query's start site — by plan signature
    * ([[Layers.streaming]]). */
  private def execLayers(): Map[Long, String] =
    execs.asScala.map { case (id, e) =>
      id -> Layers.classify(e.details, e.desc).getOrElse(Layers.streaming(e.plan, e.desc))
    }.toMap

  /** Jobs that STARTED inside any of `windows` (epoch ms intervals), each
    * with the interval it counts for: its execution's, or its own when
    * that execution has nested ones (a micro-batch's own execution). */
  def jobsIn(windows: Seq[(Long, Long)]): Seq[JobRow] = {
    Thread.sleep(1500) // let the asynchronous listener bus drain
    val layers = execLayers()
    val parents = execs.asScala.collect { case (id, e) if e.root != id => e.root }.toSet
    jobs.asScala.values.toSeq
      .filter(j => windows.exists { case (a, b) => j.start >= a && j.start <= b })
      .map { j =>
        val (layer, s, en) = Option(execs.get(j.exec)) match {
          case Some(e) if !parents(j.exec) && e.end > 0 =>
            (layers.getOrElse(j.exec, "other"), e.start, e.end)
          case Some(_) => (layers.getOrElse(j.exec, "other"), j.start, j.end)
          case None => (Layers.classify(j.stageDetails, "").getOrElse("other"), j.start, j.end)
        }
        JobRow(layer, s, en, j.start, j.end, j.taskMs.get, j.shuffleW.get, j.failedTasks.get)
      }
  }

  /** Spans, then every execution with its layer, call-site frames and plan. */
  def writeSpans(path: String): Unit = {
    val layers = execLayers()
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","group":${Report.q(s.group)},"parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    } ++ execs.asScala.toSeq.sortBy(_._2.start).map { case (id, e) =>
      s"""{"exec":$id,"root":${e.root},"layer":"${layers.getOrElse(id, "other")}",""" +
        s""""site":${Report.q(Layers.graftFrames(e.details).take(3).mkString(" < "))},""" +
        s""""plan":${Report.q(e.plan)},"start_ms":${e.start},"end_ms":${e.end},""" +
        s""""desc":${Report.q(e.desc)}}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class Span(id: Long, name: String, group: String, parent: Long,
                        startMs: Long, endMs: Long)

  /** One job: its layer, the interval it counts for, its own interval,
    * task ms, shuffle write bytes and failed tasks. */
  final case class JobRow(layer: String, start: Long, end: Long, jobStart: Long, jobEnd: Long,
                          taskMs: Long, shuffleW: Long, failedTasks: Long)

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer()
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Operator names of a physical plan, pre-order. */
  def planNodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(planNodes)

  /** Total length of the union of closed intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e >= s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Share of the union of all rows' intervals that named layers (not
    * `other`) cover. */
  def namedShare(rows: Seq[JobRow]): Double = {
    val all = unionMs(rows.map(x => (x.start, x.end)))
    val named = unionMs(rows.filter(_.layer != "other").map(x => (x.start, x.end)))
    if (all > 0) named / all else Double.NaN
  }

  /** Each layer's wall (union of its intervals — concurrent executions are
    * never summed), jobs, task ms, shuffle write bytes and failed tasks;
    * then `other`'s share of the executions' wall time. */
  def layerMetrics(r: Report, rows: Seq[JobRow], layers: Seq[String]): Unit = {
    val by = rows.groupBy(_.layer)
    (layers :+ "other").foreach { l =>
      val rs = by.getOrElse(l, Nil)
      r.gauge(s"$l.wall_ms", unionMs(rs.map(x => (x.start, x.end)).distinct), "ms")
      r.gauge(s"$l.jobs", rs.size.toDouble, "count")
      r.gauge(s"$l.task_ms", rs.map(_.taskMs).sum.toDouble, "ms")
      r.gauge(s"$l.shuffle_write_bytes", rs.map(_.shuffleW).sum.toDouble, "bytes")
      r.gauge(s"$l.failed_tasks", rs.map(_.failedTasks).sum.toDouble, "count")
    }
    val share = 1.0 - namedShare(rows)
    r.gauge("other.share", share, "ratio")
    r.note(f"layers: 'other' holds ${share * 100}%.1f%% of the SQL-execution wall time")
  }
}

/** Layer names follow the program's modules. A call site maps to a layer by
  * its first `graft.` frame's class and method — never by line number. */
object Layers {
  val Cdc: Seq[String] = Seq("source", "cdc.decode", "cdc.index", "streaming.fanout",
    "streaming.push", "streaming.kafka")
  val Intake: Seq[String] = Seq("intake.blocklist", "intake.neardup", "intake.semantic",
    "intake.cc", "intake.novelty", "intake.drift", "intake.split", "intake.state",
    "plans.barrier")

  private val Frame = """^\s*(?:at\s+)?(graft\.[\w$.]+)\.([\w$]+)\(.*$""".r

  /** `class.method` of every frame in the program's packages, innermost
    * first. */
  def graftFrames(details: String): Seq[String] =
    details.split("\n").toSeq.collect { case Frame(cls, m) =>
      s"${cls.stripSuffix("$")}.${normMethod(m)}" }

  /** `$anonfun$fanOutIndexed$3$adapted` → `fanOutIndexed`. */
  def normMethod(m: String): String =
    m.stripSuffix("$adapted").stripPrefix("$anonfun$").replaceAll("""(\$\d+)+$""", "")

  /** First-frame prefixes (class and method) and their layers. */
  private val byFrame: Seq[(String, String)] = Seq(
    "graft.streaming.CdcStream.countRaw" -> "source",
    "graft.cdc.SchemaRegistry" -> "cdc.decode",
    "graft.cdc.EventIndexer" -> "cdc.index",
    "graft.streaming.KafkaWire.produce" -> "streaming.kafka",
    "graft.streaming.CdcStream.fanOutIndexed" -> "streaming.fanout",
    "graft.plans.Barrier" -> "plans.barrier",
    "graft.llm.UrlFilter" -> "intake.blocklist",
    "graft.llm.Similarity.incrementalSemanticDup" -> "intake.semantic",
    "graft.llm.Dedup.nearDupPairs" -> "intake.cc",
    "graft.llm.Clusters" -> "intake.cc",
    "graft.llm.Dedup" -> "intake.neardup",
    "graft.llm.Novelty" -> "intake.novelty",
    "graft.llm.Drift" -> "intake.drift",
    "graft.app.Intake.driftStage" -> "intake.drift",
    "graft.app.Intake.fold" -> "intake.drift",
    "graft.llm.Selection" -> "intake.split",
    "graft.app.Intake.writeBucketed" -> "intake.state",
    "graft.app.Intake.compactFamily" -> "intake.state",
    "graft.app.Intake.retireVersions" -> "intake.state")

  /** The layer of a call site; None for a micro-batch action, whose call
    * site Spark pins to the streaming query's start site. */
  def classify(details: String, desc: String): Option[String] =
    graftFrames(details).headOption match {
      case Some(f) if f.startsWith("graft.app.Engine.start") => None
      case Some("graft.app.Intake.processBatch") => Some(intakeWrite(desc))
      case Some(f) => Some(byFrame.collectFirst { case (p, l) if f.startsWith(p) => l }.getOrElse("other"))
      case None => Some("other")
    }

  private val WriteTarget =
    """InsertIntoHadoopFsRelationCommand\s*\n(?:Input[^\n]*\n)?Arguments: ([^,\s]+)""".r

  /** The writes `Intake.processBatch` makes itself, by the directory they
    * write under the benchmark's intake config ([[IntakeWorkload.config]]):
    * drift reports and drift state, the batch's assignments, ledger and
    * telemetry (the split stage's output), and the state families. */
  def intakeWrite(desc: String): String =
    WriteTarget.findFirstMatchIn(desc).map(_.group(1)) match {
      case Some(p) if p.contains("/out/drift/") || p.contains("/driftstate/") => "intake.drift"
      case Some(p) if p.contains("/out/") => "intake.split"
      case Some(p) if Seq("/corpus/", "/idx/", "/ctr/").exists(p.contains) => "intake.state"
      case _ => "other"
    }

  private val CachedCols = """InMemoryRelation\s*\nArguments: \[([^\]]*)\]""".r

  /** Column names of the first cached relation a plan scans. */
  def cachedCols(desc: String): Set[String] =
    CachedCols.findFirstMatchIn(desc).fold(Set.empty[String])(
      _.group(1).split(",").map(_.trim.takeWhile(_ != '#')).toSet)

  /** A micro-batch action by its plan signature, following `CdcStream`'s
    * batch (the positional path: `countRaw`, the registry's decode, the
    * indexer, then `fanOutIndexed`); anything not recognised is `other`.
    *
    *  - the batch's own execution scans the source (`MicroBatchScan`), and
    *    `countRaw` counts the persisted raw statements (`stmt_seq`, `rows`,
    *    `query`): `source`;
    *  - the decode's DDL side aggregate over the raw statements
    *    (`ObjectHashAggregate`): `cdc.decode`;
    *  - the indexer's per-partition count over its range-sorted frame
    *    (`__pid`, `__mid`): `cdc.index`;
    *  - the file-sink writes, the per-sink counts and the closing count over
    *    the cached (topic, envelope, event_index) frame: `streaming.fanout`;
    *  - the push's sorted `coalesce(1)` task: `streaming.push`;
    *  - the Kafka produce's sorted per-partition task: `streaming.kafka`. */
  def streaming(plan: String, desc: String): String = {
    val cols = cachedCols(desc)
    val raw = cols("stmt_seq") && cols("rows") && cols("query")
    val envelopes = cols == Set("topic", "envelope", "event_index")
    val count = plan.startsWith("AdaptiveSparkPlan>HashAggregate>Exchange>HashAggregate>")
    if (plan.endsWith(">MicroBatchScan")) "source"
    else if (count && plan.endsWith(">InMemoryTableScan>WholeStageCodegen (1)>Scan ExistingRDD") &&
      raw) "source"
    else if (plan.startsWith("AdaptiveSparkPlan>ObjectHashAggregate>") && raw) "cdc.decode"
    else if (count && cols("__pid") && cols("__mid")) "cdc.index"
    else if (plan.startsWith("AdaptiveSparkPlan>Execute InsertIntoHadoopFsRelationCommand>") &&
      envelopes) "streaming.fanout"
    else if (count && envelopes) "streaming.fanout"
    else if (plan.startsWith("AdaptiveSparkPlan>DeserializeToObject>Coalesce>") && envelopes)
      "streaming.push"
    else if (plan.startsWith("AdaptiveSparkPlan>DeserializeToObject>Project>Sort>Exchange>") &&
      envelopes) "streaming.kafka"
    else "other"
  }
}
