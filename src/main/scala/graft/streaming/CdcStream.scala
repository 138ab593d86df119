package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.cdc.{EnvelopeBuilder, Offsets, TopicFilter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The streaming half of the engine (operators S1-lite, ST1-ST3, R1/R2, K-sinks).
  *
  * Reference shape (`/root/reference/src/wing-binlog-go/main.go:105-152`):
  * one binlog tail → decode to envelopes → serialize ONCE → offer every event
  * to every sink, each sink applying its own regex topic filters; the binlog
  * position + event index are checkpointed and restored on restart
  * (`handler.go:240-282`).
  *
  * Spark shape: Structured Streaming file source over raw-event JSON lines →
  * [[EnvelopeBuilder]] → `foreachBatch` fan-out. Spark's checkpoint handles
  * WHAT data is replayed (at-least-once per micro-batch, mirroring ST3's
  * "replay from last commit"); the reference-format pos cache
  * ([[PosStore]], byte-compatible via [[Offsets]]) carries the monotone
  * `event_index` base so that numbering is dense across batches AND
  * replay-stable: a replayed batch re-assigns the SAME indices it got before
  * the crash, exactly like the reference's restore-then-replay
  * (`handler.go:264-282`).
  */
object CdcStream {

  /** Raw statement-event schema for the JSON-lines fixture stream — the mirror
    * of `canal.RowsEvent` used across the engine (see [[EnvelopeBuilder]]). */
  val rawSchema: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("action", StringType),
    StructField("ts", LongType),
    StructField("stmt_seq", LongType),
    StructField("rows", ArrayType(ArrayType(StructType(Seq(
      StructField("k", StringType), StructField("v", StringType))))))))

  /** One sink of the fan-out: JSON lines per envelope; `kafkaShaped` prefixes
    * each line with the partition key (`database.table` — the reference's
    * Kafka key, `producer.go:66-73`) and a tab. Filters follow F1 semantics
    * (empty ⇒ everything). */
  final case class SinkConfig(name: String, dir: String,
                              filters: Seq[String] = Nil,
                              kafkaShaped: Boolean = false)

  /** The reference-format position cache: (file, pos, eventIndex) where we
    * store (batch tag, start index of that batch, next free index). Replay of
    * the same batch id re-reads the same start → identical indices. */
  object PosStore {
    def read(path: String): (String, Long, Long) = {
      val p = Paths.get(path)
      if (!Files.exists(p)) ("", 0L, 0L) else Offsets.unpackPos(Files.readAllBytes(p))
    }

    def write(path: String, tag: String, startIdx: Long, nextIdx: Long): Unit = {
      val p = Paths.get(path)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      val tmp = Paths.get(path + ".tmp")
      Files.write(tmp, Offsets.packPos(tag, startIdx, nextIdx))
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Positional raw-statement schema: row images are string arrays in table
    * column order (the binlog wire form) and alters carry their DDL text —
    * the input contract of [[processPositionalBatch]]. */
  val rawPositionalSchema: StructType = StructType(Seq(
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("action", StringType),
    StructField("ts", LongType),
    StructField("stmt_seq", LongType),
    StructField("rows", ArrayType(ArrayType(StringType))),
    StructField("query", StringType)))

  /** Streaming read of a raw-event directory. Malformed lines parse to
    * all-null rows (PERMISSIVE mode) and are dropped here — the reference
    * likewise logs and keeps tailing on a bad event
    * (`vendor/.../canal/sync.go:80-92` error tolerance). */
  def readRaw(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(rawSchema).json(inputDir)
      .filter(col("database").isNotNull && col("table").isNotNull && col("action").isNotNull)

  /** [[readRaw]] for the positional wire form. */
  def readRawPositional(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream.schema(rawPositionalSchema).json(inputDir)
      .filter(col("database").isNotNull && col("table").isNotNull && col("action").isNotNull)

  /** Process one micro-batch: envelope + index + serialize once + fan-out.
    * Exposed for testing; `start` wires it into `foreachBatch`.
    *
    * `pushTo` is an optional (host, port) of a [[TcpPubSubService]] publish
    * ingress: each partition opens ONE socket and streams its envelopes as
    * CMD_PUBLISH frames — delivery runs on the executors, the driver never
    * holds a batch of envelopes (the reference's push tier is likewise its own
    * process fed by a queue, not the coordinator; `binlog/handler.go:81-98`). */
  /** Kafka push tier: (host, port, kafkaTopic) of a broker spoken to via
    * [[KafkaWire]] (wire protocol, no connector jar). Unlike the single-
    * socket TCP push, this fans out per PARTITION on the executors — the
    * 100 TB delivery path, keyed `database.table` for per-table ordering. */
  type KafkaPush = (String, Int, String)

  def processBatch(batch: DataFrame, batchId: Long, posFile: String,
                   sinks: Seq[SinkConfig], pushTo: Option[(String, Int)] = None,
                   kafkaPush: Option[KafkaPush] = None,
                   metrics: Option[EngineMetrics] = None): Unit = {
    val (tag, replayStart, next) = PosStore.read(posFile)
    // Replay of the committed batch re-uses its original start index
    // (replay-stable numbering, ST2/ST3); a new batch starts at `next`.
    val start = if (tag == s"batch-$batchId") replayStart else next
    val (tracked, trackCleanup) = countRaw(batch, metrics)
    val (env, envCleanup) = EnvelopeBuilder.withEventIndexManaged(tracked, startIndex = start)
    fanOutIndexed(env, None, inIndexOrder = false, () => { envCleanup(); trackCleanup() },
      batchId, posFile, sinks, pushTo, start, kafkaPush, metrics)
  }

  /** Exact raw-statement count for [[EngineMetrics.rawRows]] — via
    * persist-then-count, NOT an extra source scan: the batch pipeline reads
    * the raw frame more than once (the indexer pre-pass plus the envelope
    * materialization), so caching it here means the source — in replication
    * mode, a live dump connection per read — is hit ONCE per batch where it
    * was hit 2-3×, and the count rides the cached frame for free. Without
    * metrics the frame passes through untouched. */
  private def countRaw(batch: DataFrame,
                       metrics: Option[EngineMetrics]): (DataFrame, () => Unit) =
    metrics match {
      case Some(m) =>
        val b = batch.persist()
        m.rawRows.addAndGet(b.count())
        (b, () => { b.unpersist(); () })
      case None => (batch, () => ())
    }

  /** Positional-stream variant of [[processBatch]]: raw statements carry
    * POSITIONAL row images plus ALTER DDL text, and the per-row decode is
    * resolved by the drift registry ([[graft.cdc.SchemaRegistry.decodeBatch]] —
    * version live at each row's sequence). The registry's sequence-keyed
    * versions make this replay-idempotent exactly like the index numbering.
    *
    * The batch keeps its source partitions from raw statements to indexed
    * envelopes: the registry's control pass (which also counts the raw rows)
    * and one narrow decode, then [[graft.cdc.EventIndexer.denseInOrderManaged]]
    * numbers the envelopes in place — a binlog source delivers them in
    * (`stmt_seq`, `pair_pos`) order already — and its one aggregate yields
    * the per-topic counts that every sink's sends and the batch total are
    * taken from. No range shuffle and no count job of its own; when the
    * indexer kept the source partitions, the TCP push streams them as they
    * are, with no sort either. */
  def processPositionalBatch(batch: DataFrame, batchId: Long, posFile: String,
                             sinks: Seq[SinkConfig], registry: graft.cdc.SchemaRegistry,
                             pushTo: Option[(String, Int)] = None,
                             kafkaPush: Option[KafkaPush] = None,
                             metrics: Option[EngineMetrics] = None): Unit = {
    val (tag, replayStart, next) = PosStore.read(posFile)
    val start = if (tag == s"batch-$batchId") replayStart else next
    val (decoded, rawRows, decodeCleanup) = registry.decodeBatchManaged(batch)
    metrics.foreach(_.rawRows.addAndGet(rawRows))
    val (env, topicCounts, inOrder, indexCleanup) = graft.cdc.EventIndexer.denseInOrderManaged(
      decoded, Seq(col("stmt_seq"), col("pair_pos")), "topic", "event_index", start)
    fanOutIndexed(env, Some(topicCounts), inOrder, () => { indexCleanup(); decodeCleanup() },
      batchId, posFile, sinks, pushTo, start, kafkaPush, metrics)
  }

  /** Shared tail of the two batch paths: serialize once, offer to every sink,
    * optionally push, then commit the position. `env` must carry
    * (database, table, event_type, time, topic, event, event_index).
    * `topicCounts` is the batch's envelope count per topic when the caller
    * already has it; otherwise one aggregate over the serialized frame takes
    * it. Each sink's sends are the counts of the topics its filter admits
    * ([[TopicFilter.admits]], the predicate its write filters with), and
    * the batch total is their sum over all topics. `inIndexOrder` says that
    * `env`'s partitions already follow each other in `event_index` order,
    * each sorted within ([[graft.cdc.EventIndexer.denseInOrderManaged]]). */
  private def fanOutIndexed(env: DataFrame, topicCounts: Option[Map[String, Long]],
                            inIndexOrder: Boolean, envCleanup: () => Unit, batchId: Long,
                            posFile: String, sinks: Seq[SinkConfig],
                            pushTo: Option[(String, Int)], start: Long,
                            kafkaPush: Option[KafkaPush] = None,
                            metrics: Option[EngineMetrics] = None): Unit = {
    val out = env.withColumn("envelope", EnvelopeBuilder.envelopeJson(env))
      .select(col("topic"), col("envelope"), col("event_index"))
      .persist()
    try {
      val counts = topicCounts.getOrElse(
        out.groupBy(col("topic")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)
      // Serialize once, offer to every sink — the reference's notify loop
      // (`handler.go:81-98`), with per-sink F1 filters (`groups.go:41-51`).
      sinks.foreach { s =>
        val filtered = out.filter(TopicFilter.matchAny(col("topic"), s.filters))
        val lines =
          if (s.kafkaShaped) filtered.select(concat(col("topic"), lit("\t"), col("envelope")).as("value"))
          else filtered.select(col("envelope").as("value"))
        lines.write.mode("append").text(s.dir)
        // per-sink send count (the reference's per-connection `times`,
        // tcp.go:436), from the per-topic counts: no job of its own
        metrics.foreach(_.addSink(s.name,
          counts.collect { case (t, n) if TopicFilter.admits(t, s.filters) => n }.sum))
      }
      pushTo.foreach { case (host, port) =>
        // Delivery is AT-LEAST-ONCE: the push runs before PosStore.write and
        // inside a Spark action whose task restarts from the start on retry,
        // so subscribers can see duplicate CMD_EVENT frames on task retry or
        // batch replay. The envelope JSON carries `event_index` — replay-stable
        // across retries AND batch replays (same batch ⇒ same start index) —
        // which is the consumer-side dedup key, mirroring the reference's
        // at-least-once offset contract (`handler.go:249`, XID-commit saves).
        // coalesce(1): the single task concatenates the partitions in
        // order, so ONE executor task streams the batch to the push tier in
        // event_index order through one socket, memory-bounded (iterator,
        // never materialized). Partitions already in index order (the
        // in-place index) stream as they are; any other layout is range-
        // sorted first (the entries-form prefix sum's window re-hashes its
        // partitions). The push tier is single-node by nature (like the
        // reference's notify loop); the 100 TB fan-out path remains the
        // Kafka-shaped sink.
        (if (inIndexOrder) out else out.orderBy(col("event_index")))
          .select(col("topic"), col("envelope"))
          .coalesce(1)
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            if (it.hasNext) {
              val sock = new java.net.Socket(host, port)
              try {
                val os = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
                it.foreach { r =>
                  os.write(Frame.pack(Frame.CMD_PUBLISH, r.getString(0) + "\t" + r.getString(1)))
                }
                os.flush()
              } finally sock.close()
            }
          }
      }
      kafkaPush.foreach { case (host, port, kafkaTopic) =>
        // Same at-least-once contract as the TCP push (runs before
        // PosStore.write; event_index in the envelope is the consumer-side
        // dedup key), but delivery is per-partition on the executors.
        // Per-table ORDER requires co-location first: `out` keeps the
        // batch's source (or range) partitions, which spread one table's rows
        // across partitions — concurrent per-partition producers would
        // interleave them on the table's Kafka partition in task-race order.
        // Repartition by topic (all of a table's rows through ONE task) and
        // sort by event_index within each task; the murmur2 key hash then
        // lands them on one Kafka partition in index order. One extra
        // shuffle of the batch's envelopes — the price of the ordering
        // contract, still fully parallel across tables.
        KafkaWire.produce(
          out.select(col("topic"), col("envelope"), col("event_index"))
            .repartition(col("topic"))
            .sortWithinPartitions("event_index")
            .select(col("topic"), col("envelope")),
          host, port, kafkaTopic)
      }
      val n = counts.values.sum
      metrics.foreach { m => m.envelopes.addAndGet(n); m.batches.incrementAndGet() }
      PosStore.write(posFile, s"batch-$batchId", start, start + n)
    } finally {
      out.unpersist()
      envCleanup()
    }
  }

  /** Start the streaming fan-out. `AvailableNow` drains everything then stops
    * (used by tests/backfills); pass a processing-time trigger for tailing. */
  def start(spark: SparkSession, inputDir: String, checkpointDir: String,
            posFile: String, sinks: Seq[SinkConfig],
            trigger: Trigger = Trigger.AvailableNow(),
            pushTo: Option[(String, Int)] = None): StreamingQuery =
    readRaw(spark, inputDir).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, id: Long) => processBatch(batch, id, posFile, sinks, pushTo))
      .start()
}
