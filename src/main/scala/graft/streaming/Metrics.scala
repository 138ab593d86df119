package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Observability — the reference's one piece of instrumentation, made
  * first-class. The reference counts received events per connection and logs
  * an events-per-second rate on every frame
  * (`/root/reference/src/library/client/tcp.go:436-443`: `client.times` /
  * elapsed). The engine-side equivalents live here: envelopes processed,
  * per-sink send counts, batch count, and lifetime rates — updated by the
  * batch pipeline on the driver (counts come from aggregates the batch runs
  * anyway, no extra scan of the input), folded together with
  * Spark's own per-batch progress by [[GraftQueryListener]], and readable
  * from the control plane or tests at any time. Thread-safe, lock-free. */
final class EngineMetrics {
  /** Raw statement rows entering the pipeline — counted by the batch
    * pipeline itself (the positional decode's control pass, or a count over
    * the persisted raw frame on the entries path). NOT Spark's
    * `numInputRows`: that metric counts rows READ, and an un-persisted
    * frame consumed by several actions inside `foreachBatch` is re-scanned,
    * inflating it (a 3-line batch reports 6). */
  val rawRows = new AtomicLong
  /** Envelopes serialized and offered to the sinks (multi-row statements
    * explode, so this can exceed [[rawRows]]). */
  val envelopes = new AtomicLong
  /** Micro-batches processed (the snapshot bootstrap pass counts too). */
  val batches = new AtomicLong
  private val startedNanos = System.nanoTime()
  private val sinkSends = new ConcurrentHashMap[String, AtomicLong]()
  /** Last Spark progress seen: (batchId, numInputRows, rowsPerSecond). */
  @volatile var lastProgress: Option[(Long, Long, Double)] = None

  def addSink(name: String, n: Long): Unit =
    sinkSends.computeIfAbsent(name, _ => new AtomicLong).addAndGet(n)

  def sinkCounts: Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    sinkSends.asScala.map { case (k, v) => (k, v.get) }.toMap
  }

  def elapsedSecs: Double = (System.nanoTime() - startedNanos) / 1e9

  /** Envelopes per second over the engine's lifetime — the reference's
    * `times / (now - startTime)` (tcp.go:438-441), engine-wide. */
  def envelopesPerSec: Double = {
    val s = elapsedSecs
    if (s > 0) envelopes.get / s else 0.0
  }

  /** One status line, the shape the control plane appends to CTRL_STATUS. */
  def render: String = {
    val sinks = sinkCounts.toSeq.sortBy(_._1)
      .map { case (n, c) => s"$n:$c" }.mkString(",")
    f"batches=${batches.get} rawRows=${rawRows.get} envelopes=${envelopes.get} " +
      f"envelopes/s=$envelopesPerSec%.1f sinks={$sinks}"
  }
}

/** Logs one line per micro-batch progress event and folds Spark's own
  * numbers (`numInputRows`, `processedRowsPerSecond`) into the engine's
  * [[EngineMetrics]] — the streaming-native seam for rate instrumentation
  * (progress events carry per-source/per-batch rows without any extra
  * action over the data). Filtered by QUERY NAME: the listener bus is
  * session-global and this engine's numbers must not absorb another
  * query's — the name is assigned by the engine BEFORE `start()`, so the
  * filter has no startup window in which a foreign query's event could
  * slip through (a post-start id assignment would). */
final class GraftQueryListener(metrics: EngineMetrics,
                               queryName: String) extends StreamingQueryListener {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.engine.metrics")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.name == queryName) {
      // numInputRows is recorded as Spark reports it (rows READ — see the
      // rawRows caveat in [[EngineMetrics]]); the engine's own counters in
      // `render` carry the exact pipeline numbers.
      metrics.lastProgress = Some((p.batchId, p.numInputRows, p.processedRowsPerSecond))
      log.info(s"graft-engine progress: batch=${p.batchId} " +
        s"inputRows=${p.numInputRows} " +
        f"rows/s=${p.processedRowsPerSecond}%.1f ${metrics.render}")
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
