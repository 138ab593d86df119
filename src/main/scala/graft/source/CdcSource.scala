package graft.source

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DSv2 streaming source for the CDC fixture "binlog" (operators S1-S3).
  *
  * Models the reference's tail-the-binlog source
  * (`/root/reference/src/library/binlog/handler.go:20-71`, upstream loop
  * `vendor/.../canal/sync.go:44-140`) over a directory of JSON-lines files:
  * the sorted file sequence is the binlog; a statement's position is its
  * global BYTE offset in that sequence — the same unit as the reference's
  * binlog position (`mysql.Position.Pos` is a byte offset,
  * `handler.go:240-250`). The source emits RAW statement lines plus positions —
  * decoding to envelopes happens downstream (graft.cdc), exactly as the
  * reference separates the wire loop from `OnRow`.
  *
  *  - S1: `MicroBatchStream` with offsets = global byte position; restart
  *    resumes from the checkpointed offset (ST2's restore-and-clamp is the
  *    min(checkpoint, available) bound in [[CdcMicroBatchStream.latestOffset]]).
  *  - S2: the same table also supports BATCH_READ — a full snapshot read to
  *    union ahead of the tail (`canal.tryDump`).
  *  - S3: `tableFilter` option — an include regex on `database.table` applied
  *    in the reader BEFORE any decode, mirroring `checkTableMatch`
  *    (`vendor/.../canal/canal.go:243-280`); note the position still advances
  *    past filtered rows, like the reference.
  *  - Admission control: `maxBytesPerTrigger` bounds each micro-batch
  *    (`SupportsAdmissionControl`), the backpressure analogue of the
  *    reference's bounded queues.
  *
  * Scale posture: planning touches ONLY file metadata (`Files.size`) — never
  * file contents. An earlier revision counted lines per file on the driver
  * (a full single-threaded pass over the corpus before the first micro-batch);
  * byte-offset planning is O(#files) stat calls, and readers align themselves
  * to line boundaries (Hadoop `LineRecordReader` semantics: a split owns the
  * lines that START inside it; a split that begins mid-line skips forward to
  * the first boundary). That also lets one large file split into many
  * partitions (`splitBytes`, default 128 MiB) instead of one-partition-per-file.
  *
  * Usage: `spark.readStream.format("graft-cdc").option("path", dir).load()`.
  */
class CdcTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = CdcSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CdcTable(properties.asScala.toMap)
}

object CdcSource {
  /** Raw wire rows: the JSON line, its binlog position (file + byte offset of
    * the line start, plus the global byte position across the sorted file
    * sequence), and the pre-parsed routing key (extracted without a full JSON
    * parse, for S3 filtering). */
  val schema: StructType = StructType(Seq(
    StructField("value", StringType),        // raw statement JSON line
    StructField("file", StringType),         // binlog file name
    StructField("pos", LongType),            // global byte position of line start
    StructField("db_table", StringType)))    // routing key, pre-decode

  private val dbRe = Pattern.compile("\"database\"\\s*:\\s*\"([^\"]*)\"")
  private val tblRe = Pattern.compile("\"table\"\\s*:\\s*\"([^\"]*)\"")

  def dbTableOf(line: String): String = {
    val m1 = dbRe.matcher(line); val m2 = tblRe.matcher(line)
    val db = if (m1.find()) m1.group(1) else ""
    val tb = if (m2.find()) m2.group(1) else ""
    s"$db.$tb"
  }

  /** Sorted (file, sizeBytes) listing — the "binlog" sequence. Metadata only:
    * this MUST NOT open file contents (the whole point of byte planning). */
  def listFiles(dir: String): Seq[(Path, Long)] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) return Seq.empty
    // Files.list holds an open directory fd until closed — this runs on
    // EVERY offset poll, so a leak here EMFILEs a ProcessingTime-tailing
    // engine within hours (observed: ~600 polls exhausted the test ulimit)
    val s = Files.list(d)
    val names =
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .toSeq
      finally s.close()
    names.sortBy(_.getFileName.toString).map(p => p -> Files.size(p))
  }
}

class CdcTable(properties: Map[String, String]) extends Table with SupportsRead {
  private def wireFmt: Option[String] =
    properties.get("wireformat").orElse(properties.get("wireFormat"))
  require(properties.contains("path") ||
      wireFmt.exists(_.equalsIgnoreCase("replication")),
    "graft-cdc source requires option 'path' (file modes) or " +
      "wireFormat=replication with 'host' (live source)")
  require(!properties.contains("host") ||
      wireFmt.exists(_.equalsIgnoreCase("replication")),
    "graft-cdc: option 'host' is only meaningful with wireFormat=replication " +
      "— set .option(\"wireFormat\", \"replication\") (file modes read 'path')")
  override def name(): String =
    s"graft-cdc:${properties.getOrElse("path", properties.getOrElse("host", ""))}"
  override def schema(): StructType = CdcSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new CdcScan(properties ++ options.asScala)
}

class CdcScan(props: Map[String, String]) extends Scan {
  private def dir = props("path")
  private val filter = props.get("tablefilter").orElse(props.get("tableFilter"))
  private def sopt(name: String): Option[String] =
    props.get(name.toLowerCase).orElse(props.get(name))
  private def opt(name: String): Option[Long] =
    props.get(name.toLowerCase).orElse(props.get(name)).map(_.toLong)
  private val splitBytes = opt("splitBytes").getOrElse(CdcMicroBatchStream.DefaultSplitBytes)
  /** `wireFormat=binary` tails REAL binlog-format files through
    * [[BinaryBinlogReader]]; `wireFormat=replication` dials a live MySQL
    * server ([[ReplicationBinlogReader]] — options `host`, `port`, `user`,
    * `password`, `serverId`); the default tails JSON-lines fixtures. Same
    * planning/offsets/filtering in every mode — only the reader seam and
    * the metadata listing differ. */
  private val wireFormat = props.get("wireformat").orElse(props.get("wireFormat"))
  private val binary = wireFormat.exists(_.equalsIgnoreCase("binary"))
  private val replication: Option[ReplConfig] =
    if (wireFormat.exists(_.equalsIgnoreCase("replication")))
      Some(ReplConfig(
        host = props.getOrElse("host",
          throw new IllegalArgumentException("wireFormat=replication requires option 'host'")),
        port = opt("port").getOrElse(3306L).toInt,
        user = props.getOrElse("user", "root"),
        password = props.getOrElse("password", ""),
        serverId = opt("serverId").getOrElse(6402L),
        tls = TlsConfig(
          enabled = sopt("tls").exists(_.equalsIgnoreCase("true")),
          trustAll = sopt("tlsInsecure").exists(_.equalsIgnoreCase("true")),
          truststorePath = sopt("tlsTruststore").getOrElse(""),
          truststorePassword = sopt("tlsTruststorePassword").getOrElse("")),
        attachRowsQuery = rowsQueryAttach))
    else None

  /** Option `rowsQueryAttach=true`: when the master logs
    * `binlog_rows_query_log_events`, carry each statement's ORIGINAL SQL
    * (ROWS_QUERY_EVENT) in the rows lines' `query` field — provenance for
    * audit pipelines. Off by default: the stream is byte-identical to a
    * server that does not log the event. */
  private def rowsQueryAttach: Boolean =
    sopt("rowsQueryAttach").exists(_.equalsIgnoreCase("true"))

  override def readSchema(): StructType = CdcSource.schema
  override def description(): String =
    replication.fold(s"graft-cdc dir=$dir filter=${filter.getOrElse("(none)")}" +
      (if (binary) " wire=binary" else "")) { r =>
      s"graft-cdc replication=${r.host}:${r.port} filter=${filter.getOrElse("(none)")}"
    }

  private def factory: CdcReaderFactory = replication match {
    case Some(r) => new CdcReaderFactory(p => r.mkReader(p))
    case None if binary =>
      // local copy: the reader lambda ships to executors and must not
      // capture `this` (CdcScan holds the non-serializable props map)
      val rq = rowsQueryAttach
      new CdcReaderFactory(p =>
        new BinaryBinlogReader(p.file, p.fromByte, p.untilByte,
          seqBase = p.globalBase, attachRowsQuery = rq))
    case None => new CdcReaderFactory
  }

  /** S2: snapshot — all statements currently in the directory (or on the
    * master, in replication mode), one batch. */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      if (replication.isDefined)
        CdcMicroBatchStream.slice(replication.get.listLogs(), 0L, Long.MaxValue,
          filter, Long.MaxValue)
      else
        CdcMicroBatchStream.slice(
          CdcSource.listFiles(dir).map { case (p, s) => (p.toString, s) },
          0L, Long.MaxValue, filter, splitBytes)
    override def createReaderFactory(): PartitionReaderFactory = factory
  }

  /** Option `gtidLocate`: how a `startGtid` first start finds its position —
    * `probe` (default: client-side prologue probes, [[GtidLocator.locate]])
    * or `server` (COM_BINLOG_DUMP_GTID auto-position,
    * [[GtidLocator.locateAuto]]). */
  private def serverLocate: Boolean =
    props.get("gtidlocate").orElse(props.get("gtidLocate"))
      .exists(_.equalsIgnoreCase("server"))

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    replication match {
      case Some(r)
        if props.get("connection").exists(_.equalsIgnoreCase("persistent")) =>
        // one long-lived blocking dump + heartbeat (the reference's ops
        // shape) instead of per-batch re-dialing — see [[PersistentDump]]
        new PersistentReplStream(r, filter, opt("maxBytesPerTrigger"),
          startOffset = props.get("startoffset").orElse(props.get("startOffset"))
            .map(ReplOffset.parse),
          bufferCap = opt("dumpBufferCap").getOrElse(10000L).toInt,
          heartbeatSecs = opt("heartbeatSecs").getOrElse(30L).toInt,
          startGtid = props.get("startgtid").orElse(props.get("startGtid")),
          serverLocate = serverLocate)
      case Some(r) => new ReplMicroBatchStream(r, filter, opt("maxBytesPerTrigger"),
        startOffset = props.get("startoffset").orElse(props.get("startOffset"))
          .map(ReplOffset.parse),
        startGtid = props.get("startgtid").orElse(props.get("startGtid")),
        serverLocate = serverLocate)
      case None =>
        val rq = rowsQueryAttach // serializable local, not a `this` capture
        new CdcMicroBatchStream(dir, filter, opt("maxBytesPerTrigger"), splitBytes,
          mkReader = if (binary) Some(p =>
            new BinaryBinlogReader(p.file, p.fromByte, p.untilByte,
              seqBase = p.globalBase, attachRowsQuery = rq))
          else None)
    }
}

/** Offset = bytes consumed from the start of the sorted file sequence. */
case class CdcOffset(pos: Long) extends Offset {
  override def json(): String = s"""{"pos":$pos}"""
}

object CdcOffset {
  /** The one place the `"pos"` field is parsed — both planners' checkpoints
    * go through it, so the formats cannot silently diverge. */
  def parsePos(json: String): Long =
    "\"pos\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse {
        // The offset unit changed from statement index ({"stmt":N}) to byte
        // position; a legacy value cannot be converted (different unit), so
        // fail with an actionable message instead of a generic parse error.
        if (json.contains("\"stmt\""))
          throw new IllegalArgumentException(
            s"legacy statement-index offset found in checkpoint: $json — the " +
              "graft-cdc offset unit is now a byte position; reset the " +
              "checkpoint directory (and pos file) to restart this stream")
        throw new IllegalArgumentException(s"bad offset: $json")
      }
}

/** Replication-mode offset: the global byte position PLUS the (file, size)
  * sequence it was measured against. Global positions are sums of file sizes
  * in sequence order, so they are only stable if every earlier file's size
  * stays in the map forever — including files the server has since PURGED
  * (`expire_logs_seconds` is routine on real servers). A bare `pos` would be
  * re-anchored against the post-purge listing on restart and silently skip
  * up to the purged bytes; carrying the sizes in the checkpoint makes the
  * mapping restart-stable. Size: one short entry per binlog file ever seen —
  * checkpoint-metadata scale. */
case class ReplOffset(pos: Long, files: Seq[(String, Long)],
                      /** gtid_executed at-or-below `pos` (canonical
                        * [[GtidSet]] text) — the unit a restart can carry to
                        * a DIFFERENT primary after failover (option
                        * `startGtid`), where `pos`/`files` mean nothing.
                        * The persistent dump mode re-stamps it exactly as
                        * transactions commit (it observes GTID events
                        * driver-side); per-batch mode only CARRIES the start
                        * set forward (events are seen on executors), which
                        * can understate — the at-least-once-safe direction.
                        * Absent in pre-GTID checkpoints; parsing tolerates
                        * both directions. */
                      gtid: Option[String] = None,
                      /** The primary's `@@server_uuid` at stamp time: lets a
                        * restart distinguish "same server purged/rotated past
                        * every file we knew" (continue) from "a different
                        * primary after failover" (fail loudly, point at
                        * startGtid). None for MariaDB / legacy checkpoints. */
                      suuid: Option[String] = None,
                      /** Transaction open (GTID header seen, commit marker
                        * not yet) at `pos`, as `sid:gno`. Offsets are
                        * emitted-event ends and can land inside a
                        * transaction; a restart dumping from there never
                        * re-sees the header, so without this carry the
                        * commit marker would fold nothing and the id would
                        * hole `gtid` permanently. The persistent reader
                        * re-seeds it and the re-dumped marker folds it
                        * exactly (binlog transactions never interleave).
                        * Absent in pre-pending checkpoints; parsing
                        * tolerates both directions. */
                      pending: Option[String] = None) extends Offset {
  /** `pending` as (sid, gno) — the uuid never contains ':'. */
  def pendingPair: Option[(String, Long)] = pending.map { s =>
    val i = s.lastIndexOf(':')
    (s.substring(0, i), s.substring(i + 1).toLong)
  }
  override def json(): String = {
    val fs = files.map { case (n, s) => s"""["$n",$s]""" }.mkString(",")
    val g = gtid.fold("")(g => s""","gtid":"$g"""")
    val u = suuid.fold("")(u => s""","suuid":"$u"""")
    val p = pending.fold("")(p => s""","pending":"$p"""")
    s"""{"pos":$pos$g$u$p,"files":[$fs]}"""
  }
}

object ReplOffset {
  private val pairRe = """\["([^"]+)",(\d+)\]""".r
  private val gtidRe = """"gtid"\s*:\s*"([^"]*)"""".r
  private val suuidRe = """"suuid"\s*:\s*"([^"]*)"""".r
  private val pendingRe = """"pending"\s*:\s*"([^"]*)"""".r
  def parse(json: String): ReplOffset =
    ReplOffset(CdcOffset.parsePos(json),
      pairRe.findAllMatchIn(json).map(m => (m.group(1), m.group(2).toLong)).toSeq,
      gtidRe.findFirstMatchIn(json).map(_.group(1)).filter(_.nonEmpty),
      suuidRe.findFirstMatchIn(json).map(_.group(1)).filter(_.nonEmpty),
      pendingRe.findFirstMatchIn(json).map(_.group(1)).filter(_.nonEmpty))

  def encodePending(p: Option[(String, Long)]): Option[String] =
    p.map { case (sid, gno) => s"$sid:$gno" }
  /** Accepts this stream's own offsets and (for compatibility with
    * checkpoints written before sizes were carried) a bare CdcOffset. */
  def posOf(o: Offset): Long = o match {
    case r: ReplOffset => r.pos
    case c: CdcOffset => c.pos
    case other => throw new IllegalArgumentException(s"unexpected offset: $other")
  }

  def gtidOf(o: Offset): Option[String] = o match {
    case r: ReplOffset => r.gtid
    case _ => None
  }

  def pendingOf(o: Offset): Option[String] = o match {
    case r: ReplOffset => r.pending
    case _ => None
  }
}

object CdcMicroBatchStream {
  /** One reader task per at most this many bytes — a large binlog file fans
    * out across the cluster instead of pinning one executor. */
  val DefaultSplitBytes: Long = 128L * 1024 * 1024

  /** Plan partitions for the global byte range [from, until): each file's
    * overlap, chunked to `splitBytes`. Line-boundary alignment is the READER's
    * job (LineRecordReader semantics), so splits may start/end mid-line.
    * `files` are (name, size) — local paths for the file readers, bare binlog
    * names for the replication reader. */
  def slice(files: Seq[(String, Long)], from: Long, until: Long,
            filter: Option[String], splitBytes: Long = DefaultSplitBytes): Array[InputPartition] = {
    var base = 0L
    var ordinal = 0
    val parts = Seq.newBuilder[InputPartition]
    files.foreach { case (name, sz) =>
      val lo = math.max(from, base)
      val hi = math.min(until, base + sz)
      var at = lo
      while (at < hi) {
        // overflow-safe: at + splitBytes can wrap for splitBytes=MaxValue
        val end = at + math.min(splitBytes, hi - at)
        parts += CdcInputPartition(name, at - base, end - base, base, filter, ordinal)
        at = end
        ordinal += 1
      }
      base += sz
    }
    parts.result().toArray
  }
}

class CdcMicroBatchStream(dir: String, filter: Option[String], maxBytesPerTrigger: Option[Long],
                          splitBytes: Long = CdcMicroBatchStream.DefaultSplitBytes,
                          mkReader: Option[CdcInputPartition => BinlogReader] = None)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // Sizes are cached per file: binlog files are append-only in the reference
  // and immutable-once-written here; only NEW files get stat'd. (Metadata
  // only either way — the cache just keeps the sequence's base offsets
  // stable if a file were ever truncated behind us.)
  private val sizes = scala.collection.mutable.LinkedHashMap[String, (Path, Long)]()
  private var availableNowTarget: Option[Long] = None

  private def refresh(): Seq[(Path, Long)] = synchronized {
    CdcSource.listFiles(dir).foreach { case (p, n) =>
      val key = p.toString
      if (!sizes.contains(key)) sizes(key) = (p, n)
    }
    sizes.values.toSeq
  }

  private def totalAvailable(): Long = refresh().map(_._2).sum

  override def initialOffset(): Offset = CdcOffset(0L)

  override def deserializeOffset(json: String): Offset =
    CdcOffset(CdcOffset.parsePos(json))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[CdcOffset].pos
    // ST2 clamp: never promise beyond what the source actually has.
    val avail = availableNowTarget.getOrElse(totalAvailable())
    // Admission control in the offset's own unit (bytes): a byte budget may
    // land mid-line; the reader's start-in-range ownership rule keeps every
    // line in exactly one batch regardless, and the offset always advances,
    // so a budget smaller than one line cannot stall the stream. The budget
    // add is saturating: `from + b` wraps negative for b near Long.MaxValue
    // (the natural "unbounded" setting), which would freeze the offset.
    val until = maxBytesPerTrigger
      .map(b => if (b >= avail - from) avail else from + b).getOrElse(avail)
    CdcOffset(math.max(from, until))
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(totalAvailable())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    CdcMicroBatchStream.slice(refresh().map { case (p, s) => (p.toString, s) },
      start.asInstanceOf[CdcOffset].pos, end.asInstanceOf[CdcOffset].pos, filter, splitBytes)

  override def createReaderFactory(): PartitionReaderFactory =
    mkReader.fold(new CdcReaderFactory)(new CdcReaderFactory(_))
  override def commit(end: Offset): Unit = () // files are immutable; nothing to ack
  override def stop(): Unit = ()
}

case class CdcInputPartition(file: String, fromByte: Long, untilByte: Long,
                             globalBase: Long, filter: Option[String],
                             /** Index within the planned batch — unique by
                               * construction, the replication mode's per-dump
                               * server_id ordinal. */
                             ordinal: Int = 0) extends InputPartition

/** Connection coordinates for `wireFormat=replication`. Serializable: the
  * reader factory ships it to executors, where each partition dials its own
  * bounded dump. */
case class ReplConfig(host: String, port: Int, user: String, password: String,
                      serverId: Long, tls: TlsConfig = TlsConfig.Off,
                      attachRowsQuery: Boolean = false)
    extends Serializable {
  /** Metadata-only listing (SHOW BINARY LOGS) — the replication analogue of
    * [[CdcSource.listFiles]]: O(#files) over the wire, never event bytes.
    * (Plain query connection: no COM_REGISTER_SLAVE, no dump, so sharing the
    * base serverId here cannot collide with dump connections.) */
  def listLogs(): Seq[(String, Long)] = listWithUuid()._2

  /** Listing plus the server's identity, over one connection — the uuid is
    * the failover discriminator [[BinlogLineage.check]] consumes. */
  def listWithUuid(): (Option[String], Seq[(String, Long)]) = {
    val c = new ReplicationClient(host, port, user, password, serverId, tls)
    try { c.connect(); (c.serverUuid(), c.binaryLogs()) } finally c.close()
  }

  /** One dump connection per partition, each with a DISTINCT server_id:
    * MySQL's kill_zombie_dump_threads terminates an existing dump whose
    * server_id matches a new COM_BINLOG_DUMP, so two concurrent partitions
    * (one batch spanning a rotation) sharing an id would kill each other
    * mid-dump — a task-retry livelock, not a clean error. The ordinal is the
    * partition's index WITHIN its planned batch (unique by construction —
    * a file-name-derived id could collide: suffixes congruent mod the range
    * width, or a hashCode collision). Batches run one at a time per stream,
    * so the engine occupies server ids in (serverId, serverId + 100000];
    * pick the base so that range is free of real replicas, and give
    * concurrent streams against one server disjoint bases. */
  def mkReader(p: CdcInputPartition): BinlogReader =
    new ReplicationBinlogReader(host, port, user, password,
      serverId + 1 + (p.ordinal % 100000), p.file, p.fromByte, p.untilByte,
      seqBase = p.globalBase, tls = tls, attachRowsQuery = attachRowsQuery)
}

/** Failover detection for position-based resume. A checkpointed global
  * position only means something against the binlog lineage it was measured
  * on; when the server's current listing shares NO file with the known
  * sequence, either the SAME primary purged/rotated past everything we knew
  * (positions stay valid — new files append after the pinned sizes) or this
  * is a DIFFERENT primary after failover (positions are garbage: its files
  * would be appended to the sequence and re-streamed IN FULL — silent
  * duplication of every retained transaction). `@@server_uuid` separates the
  * two exactly; without it (MariaDB, legacy checkpoints) a strictly-forward
  * same-basename rotation is accepted and anything else fails toward the
  * GTID recovery path. */
object BinlogLineage {
  private val suffixRe = """^(.*)\.(\d+)$""".r

  private def parseName(n: String): Option[(String, Long)] = n match {
    case suffixRe(b, num) => Some((b, num.toLong))
    case _ => None
  }

  def check(known: Set[String], knownUuid: Option[String],
            live: Seq[(String, Long)], liveUuid: Option[String],
            server: String, startGtidHint: Option[String]): Unit = {
    val sameLineage = (knownUuid, liveUuid) match {
      // identity decides outright when both sides have it — a NEW primary
      // may well reuse the old one's file names (fresh installs all write
      // binlog.000001), which name overlap would wrongly bless
      case (Some(a), Some(b)) => a.equalsIgnoreCase(b)
      case _ if known.isEmpty || live.isEmpty => true // nothing to contradict
      case _ if live.exists(f => known(f._1)) => true // shared file: one log
      case _ =>
        // no identity on one side (MariaDB / legacy checkpoint): accept only
        // an unambiguous forward rotation — every name parses, one shared
        // basename, every live suffix beyond every known suffix
        val k = known.toSeq.map(parseName)
        val l = live.map(f => parseName(f._1))
        (k ++ l).forall(_.isDefined) &&
          (k ++ l).flatten.map(_._1).distinct.size == 1 &&
          l.flatten.map(_._2).min > k.flatten.map(_._2).max
    }
    if (!sameLineage)
      throw new IllegalStateException(
        s"binlog sequence mismatch: checkpoint knows files ${known.mkString(", ")}" +
          knownUuid.fold("")(u => s" (server_uuid $u)") +
          s" but $server serves ${live.map(_._1).mkString(", ")}" +
          liveUuid.fold("")(u => s" (server_uuid $u)") +
          " — a failover to a new primary? File/pos offsets do not survive " +
          "failover; restart with a FRESH checkpoint and option startGtid=" +
          startGtidHint.getOrElse("<gtid_executed from the old checkpoint's offset>"))
  }
}

/** Micro-batch planner for the LIVE replication source. Same offset unit as
  * the file planner (global byte position across the sorted binlog file
  * sequence — `mysql.Position` flattened), but listing comes from
  * `SHOW BINARY LOGS` and each batch's partitions drain bounded
  * non-blocking dumps over their own connections.
  *
  * Two replication-specific planning rules:
  *  - NO mid-file splitting (a dump starts only at an event boundary, and a
  *    socket cannot re-parse from the magic the way the file reader aligns
  *    a split): one partition per file-range per batch. The stream is
  *    inherently a single ordered event sequence — parallelism belongs to
  *    the stages above, exactly like the reference's single canal loop
  *    feeding concurrent sinks.
  *  - Admission (`maxBytesPerTrigger`) is a SOFT cap rounded UP to the next
  *    file boundary (or the live tail), because every checkpointed offset
  *    must be a position a future `COM_BINLOG_DUMP` can start from: file
  *    ends and the server-reported tail are event boundaries by server
  *    construction; an arbitrary `from + budget` byte is not. Rounding up
  *    (never down) keeps the offset advancing, so an undersized budget
  *    cannot stall the stream — same invariant as the file planner's
  *    mid-line budgets. */
class ReplMicroBatchStream(conf: ReplConfig, filter: Option[String],
                           maxBytesPerTrigger: Option[Long],
                           /** First-start offset (option `startOffset`, a
                             * [[ReplOffset]] json) — the pinned bootstrap /
                             * snapshot position. Only consulted when no
                             * checkpoint exists; a restart resumes from the
                             * checkpoint as always. */
                           startOffset: Option[ReplOffset] = None,
                           /** First-start gtid_executed (option `startGtid`):
                             * locate the start by GTID — the failover-proof
                             * resume unit. Only consulted when no checkpoint
                             * exists. (Per-batch offsets do not RE-stamp
                             * gtids as the stream runs — events are only seen
                             * on executors; use `connection=persistent` for
                             * continuously stamped offsets.) */
                           startGtid: Option[String] = None,
                           /** `gtidLocate=server`: resolve `startGtid` via
                             * the server's own COM_BINLOG_DUMP_GTID walk
                             * instead of client-side prologue probes. */
                           serverLocate: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // Monotone size cache: closed files are immutable; only the ACTIVE (last)
  // file grows between refreshes. max() guards against a listing read from
  // a lagging replica ever shrinking the sequence's base offsets. Seeded
  // from checkpointed ReplOffsets (deserializeOffset), so files the server
  // has PURGED since the checkpoint keep their recorded sizes and every
  // global position keeps meaning what it meant when it was committed.
  private val sizes = scala.collection.mutable.LinkedHashMap[String, Long]()
  // AvailableNow freezing is LAZY: Spark calls prepareForTriggerAvailableNow
  // during source init, BEFORE deserializeOffset restores the checkpoint's
  // pinned sizes — freezing a sum there would measure the post-purge listing
  // only and stall a restarted stream short of its own start offset. The
  // first latestOffset call always runs after offset restore, so the target
  // is captured there (once).
  private var availableNowRequested = false
  private var availableNowTarget: Option[Long] = None

  private def seed(files: Seq[(String, Long)]): Unit = synchronized {
    files.foreach { case (name, sz) =>
      sizes(name) = math.max(sz, sizes.getOrElse(name, 0L))
    }
  }

  /** Last known server identity (checkpoint-carried or observed live). */
  private var knownUuid: Option[String] = None
  /** Last checkpoint-carried gtid_executed — surfaced in the lineage-mismatch
    * error as the concrete `startGtid=` recovery value (mirrors
    * `PersistentReplStream.lastGtid`): the operator already HOLDS the value
    * in the failed checkpoint; withholding it from the message just makes
    * them dig it out of the offset json by hand. */
  private var knownGtid: Option[String] = None

  private def refresh(): Seq[(String, Long)] = synchronized {
    val (liveUuid, live) = conf.listWithUuid()
    BinlogLineage.check(sizes.keySet.toSet, knownUuid, live, liveUuid,
      s"${conf.host}:${conf.port}", startGtidHint = knownGtid)
    knownUuid = liveUuid.orElse(knownUuid)
    seed(live)
    sizes.toSeq
  }

  private def snapshot(): Seq[(String, Long)] = synchronized(sizes.toSeq)

  override def initialOffset(): Offset = {
    val o = startOffset.map { o => seed(o.files); o }
      .orElse(startGtid.map { g =>
        val set = GtidSet.parse(g)
        val located =
          if (serverLocate) GtidLocator.locateAuto(conf, set)
          else GtidLocator.locate(conf, set)
        seed(located.files)
        located.copy(gtid = Some(set.toString))
      })
      .getOrElse(ReplOffset(0L, Nil))
    synchronized {
      knownUuid = o.suuid.orElse(knownUuid)
      knownGtid = o.gtid.orElse(knownGtid)
    }
    o
  }
  override def deserializeOffset(json: String): Offset = {
    val o = ReplOffset.parse(json)
    seed(o.files) // restart: pin the checkpoint's sequence mapping FIRST
    synchronized {
      knownUuid = o.suuid.orElse(knownUuid)
      knownGtid = o.gtid.orElse(knownGtid)
    }
    o
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = ReplOffset.posOf(start)
    val files = refresh()
    val avail = synchronized {
      if (availableNowRequested && availableNowTarget.isEmpty)
        availableNowTarget = Some(files.map(_._2).sum)
      availableNowTarget.getOrElse(files.map(_._2).sum)
    }
    val until = maxBytesPerTrigger match {
      case None => avail
      // saturating compare: `from + b` wraps negative for b near MaxValue
      case Some(b) if b >= avail - from => avail
      case Some(b) =>
        var cum = 0L
        files.map { case (_, s) => cum += s; cum }
          .find(_ >= from + b).getOrElse(avail).min(avail)
    }
    ReplOffset(math.max(from, until), files,
      gtid = ReplOffset.gtidOf(start), // carried, not re-stamped (see ctor doc)
      suuid = synchronized(knownUuid),
      // carried like gtid: a pending id whose commit has since passed is
      // still correct to fold later (commit ≤ any later offset pos); a
      // persistent-mode restart re-seeds it position-matched
      pending = ReplOffset.pendingOf(start))
  }

  override def prepareForTriggerAvailableNow(): Unit =
    synchronized { availableNowRequested = true }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // Reuse the snapshot latestOffset (or deserializeOffset's seed) already
    // took for this batch — no second SHOW BINARY LOGS connection per
    // trigger. A fresh listing is only needed if the cached sequence doesn't
    // cover the batch's end (first plan after a bare-pos legacy offset).
    val endPos = ReplOffset.posOf(end)
    val snap = snapshot()
    val listing = if (snap.map(_._2).sum >= endPos) snap else refresh()
    CdcMicroBatchStream.slice(listing, ReplOffset.posOf(start), endPos,
      filter, splitBytes = Long.MaxValue)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val c = conf // local pin: the lambda must capture the config, not `this`
    new CdcReaderFactory(p => c.mkReader(p))
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The pluggable wire-reader seam: everything above this interface (planning,
  * offsets, admission control) is protocol-agnostic; everything below it is
  * "where do raw statement lines come from". [[FileBinlogReader]] tails the
  * fixture files; a MySQL-protocol implementation (the reference's canal
  * loop, `vendor/.../canal/sync.go:44-140`) slots in here without touching
  * the DSv2 layer. */
trait BinlogReader extends AutoCloseable {
  /** Next (lineStartByteOffsetWithinFile, line), or null when exhausted. */
  def nextLine(): (Long, String)
}

/** Reads the lines of `[fromByte, untilByte)` of one file with
  * LineRecordReader alignment: a bounded pre-scan finds the first line
  * boundary at-or-after `fromByte`, then the reader owns every line that
  * STARTS before `untilByte` (reading past `untilByte` to finish the last
  * owned line). Byte positions are tracked from bytes ACTUALLY CONSUMED by
  * a byte-level scanner — not reconstructed from decoded line content — so
  * CRLF terminators and an unterminated final line cannot make `at` drift
  * from true file offsets (which would break split ownership and emit
  * positions that no longer match real binlog offsets). Content excludes
  * the terminator; a `\r` before the `\n` is stripped from content but
  * counted in position, like Hadoop's LineReader. */
final class FileBinlogReader(file: String, fromByte: Long, untilByte: Long) extends BinlogReader {
  private val startAt = FileBinlogReader.alignToBoundary(file, fromByte)
  private val ch = Files.newByteChannel(Paths.get(file))
  ch.position(startAt)
  private val in = new java.io.BufferedInputStream(
    java.nio.channels.Channels.newInputStream(ch), 1 << 16)
  private var at: Long = startAt // byte offset of the next unread line

  override def nextLine(): (Long, String) = {
    if (at >= untilByte) return null
    var b = in.read()
    if (b < 0) return null
    val start = at
    val buf = new java.io.ByteArrayOutputStream(256)
    var consumed = 0L
    while (b >= 0 && b != '\n') { buf.write(b); consumed += 1; b = in.read() }
    if (b == '\n') consumed += 1 // terminator consumed, not part of content
    at = start + consumed
    val bytes = buf.toByteArray
    val contentLen = // strip a CR that immediately preceded the LF
      if (b == '\n' && bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1
      else bytes.length
    (start, new String(bytes, 0, contentLen, StandardCharsets.UTF_8))
  }

  override def close(): Unit = { in.close(); ch.close() }
}

object FileBinlogReader {
  /** Exact byte offset of the first line boundary at-or-after `fromByte`
    * (0 if fromByte == 0): scans at most one line with an unbuffered-ish
    * bounded read, so the subsequent BufferedReader starts at a known offset. */
  def alignToBoundary(file: String, fromByte: Long): Long = {
    if (fromByte == 0) return 0L
    val ch = Files.newByteChannel(Paths.get(file))
    try {
      ch.position(fromByte - 1)
      val in = java.nio.channels.Channels.newInputStream(ch)
      var off = fromByte - 1
      var b = in.read()
      while (b >= 0 && b != '\n') { off += 1; b = in.read() }
      if (b < 0) off // EOF before any newline ⇒ no lines start in this split
      else off + 1   // first byte after the newline
    } finally ch.close()
  }
}

/** Builds the wire reader for a partition. `mkReader` is the [[BinlogReader]]
  * seam: the default tails fixture files; a MySQL-protocol reader (speaking
  * the replication protocol like the reference's canal loop) is a drop-in
  * replacement — planning, offsets, filtering and row assembly above it do
  * not change. */
class CdcReaderFactory(
    mkReader: CdcInputPartition => BinlogReader = p => new FileBinlogReader(p.file, p.fromByte, p.untilByte))
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcInputPartition]
    new PartitionReader[InternalRow] {
      private val wire = mkReader(p)
      private val pattern = p.filter.map(Pattern.compile)
      private val fileName = UTF8String.fromString(Paths.get(p.file).getFileName.toString)
      private var line: String = _
      private var key: String = _       // `line`'s routing key, taken once
      private var emittedAt: Long = -1L // byte offset of `line` within the file

      override def next(): Boolean = {
        // S3: filter BEFORE decode; the position still advances past
        // filtered statements (canal.go:243-280 semantics).
        var n = wire.nextLine()
        while (n != null) {
          val k = CdcSource.dbTableOf(n._2)
          if (pattern.forall(_.matcher(k).find())) {
            emittedAt = n._1; line = n._2; key = k
            return true
          }
          n = wire.nextLine()
        }
        false
      }

      override def get(): InternalRow =
        InternalRow(
          UTF8String.fromString(line),
          fileName,
          p.globalBase + emittedAt,
          UTF8String.fromString(key))

      override def close(): Unit = wire.close()
    }
  }
}
