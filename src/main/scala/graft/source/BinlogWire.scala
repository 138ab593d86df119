package graft.source

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.CRC32

/** MySQL binlog BINARY wire format (operator S1's protocol layer).
  *
  * Parses the on-disk/replication binlog event stream — the format the
  * reference consumes through go-mysql
  * (`vendor/src/github.com/siddontang/go-mysql/replication/row_event.go:385-500`
  * value decode; `parser.go` event framing) — and re-emits each statement as
  * one JSON line in the POSITIONAL wire form ([[graft.streaming.CdcStream.rawPositionalSchema]]):
  * row images as string arrays in table-column order, ALTER DDL as `query`.
  * Everything above this layer (DSv2 planning, drift registry, envelope
  * builder, Decode's unsigned/enum/set fix-ups) is byte-format-agnostic and
  * unchanged — this is exactly the [[BinlogReader]] seam.
  *
  * Format facts used here (all public MySQL replication protocol):
  *  - file magic `0xfe 'b' 'i' 'n'`; v4 event header = 19 bytes:
  *    timestamp(4 LE), type(1), server_id(4), event_size(4), log_pos(4),
  *    flags(2).
  *  - FORMAT_DESCRIPTION (15) declares the checksum algorithm in its LAST
  *    payload byte before its own CRC; with CRC32 (alg=1) every later event's
  *    payload ends with 4 checksum bytes (verified here, as go-mysql does).
  *  - TABLE_MAP (19) carries (table_id → schema, table, column types,
  *    per-type metadata); ROWS events reference the table_id.
  *  - ROWS v1 (23/24/25) and v2 (30/31/32, extra-data header) carry
  *    columns-present bitmaps, per-image null bitmaps, then length-encoded
  *    values; UPDATE images alternate before/after — the same alternating
  *    layout [[graft.cdc.EnvelopeBuilder]] pairs downstream.
  *  - QUERY (2) carries DDL text; ALTER statements become `action=alter`
  *    lines (the reference's `OnTableChanged`/`OnDDL` path).
  *
  * Value → string-carrier rendering matches the fixture convention that
  * [[graft.cdc.Decode]] consumes: signed decimal for integer carriers
  * (unsigned reinterpretation is Decode's job, by declared column type),
  * ENUM as 1-based ordinal, SET/BIT as the integer bitmask, exact decimal
  * string for NEWDECIMAL (not the lossy float64 default — SURVEY §1.5),
  * `0000-00-00`-style zero dates, UTC-formatted DATETIME2/TIMESTAMP2, and
  * JSON (245) columns rendered to JSON text from MySQL's JSONB binary
  * sub-format ([[decodeJsonb]] — objects/arrays with offset tables and
  * small-scalar inlining, the format go-mysql parses in `json_binary.go`).
  * Opaque JSONB payloads (decimal/datetime-in-JSON) fail fast rather than
  * corrupting.
  */
object BinlogWire {

  val Magic: Array[Byte] = Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)

  // Event type codes (public protocol constants).
  val QUERY_EVENT = 2
  val ROTATE_EVENT = 4
  val FORMAT_DESCRIPTION_EVENT = 15
  val XID_EVENT = 16
  val TABLE_MAP_EVENT = 19
  /** Sent by the server during idle blocking dumps when
    * `@master_heartbeat_period` is set — liveness only, never written to a
    * binlog file. */
  val HEARTBEAT_EVENT = 27
  val ROWS_QUERY_EVENT = 29
  /** One per transaction under gtid_mode=ON: flags(1) + source uuid(16) +
    * transaction number(8 LE), ahead of the transaction's events. */
  val GTID_EVENT = 33
  val ANONYMOUS_GTID_EVENT = 34
  /** Mandatory file prologue under gtid_mode: the executed set as of this
    * file's creation, in [[GtidSet]] wire encoding. */
  val PREVIOUS_GTIDS_EVENT = 35
  val WRITE_ROWS_V1 = 23
  val UPDATE_ROWS_V1 = 24
  val DELETE_ROWS_V1 = 25
  val WRITE_ROWS_V2 = 30
  val UPDATE_ROWS_V2 = 31
  val DELETE_ROWS_V2 = 32

  // Column type codes (mysql_com.h).
  val TYPE_DECIMAL = 0; val TYPE_TINY = 1; val TYPE_SHORT = 2; val TYPE_LONG = 3
  val TYPE_FLOAT = 4; val TYPE_DOUBLE = 5; val TYPE_NULL = 6; val TYPE_TIMESTAMP = 7
  val TYPE_LONGLONG = 8; val TYPE_INT24 = 9; val TYPE_DATE = 10; val TYPE_TIME = 11
  val TYPE_DATETIME = 12; val TYPE_YEAR = 13; val TYPE_VARCHAR = 15; val TYPE_BIT = 16
  val TYPE_TIMESTAMP2 = 17; val TYPE_DATETIME2 = 18; val TYPE_TIME2 = 19
  val TYPE_JSON = 245; val TYPE_NEWDECIMAL = 246; val TYPE_ENUM = 247; val TYPE_SET = 248
  val TYPE_TINY_BLOB = 249; val TYPE_MEDIUM_BLOB = 250; val TYPE_LONG_BLOB = 251
  val TYPE_BLOB = 252; val TYPE_VAR_STRING = 253; val TYPE_STRING = 254
  val TYPE_GEOMETRY = 255

  final case class EventHeader(timestamp: Long, eventType: Int, serverId: Long,
                               eventSize: Int, logPos: Long, flags: Int)

  /** GTID_EVENT body prefix → (source uuid, transaction number). Later
    * fields (logical-clock timestamps, 8.0's commit timestamps) follow but
    * don't affect identity, so only the 25-byte prefix is read. */
  def parseGtid(body: Array[Byte]): (String, Long) = {
    require(body.length >= 25, s"short GTID event body: ${body.length}")
    val sid = GtidSet.sidHex(java.util.Arrays.copyOfRange(body, 1, 17))
    var gno = 0L
    var i = 0
    while (i < 8) { gno |= (body(17 + i) & 0xffL) << (8 * i); i += 1 }
    (sid, gno)
  }

  /** One mapped table: column wire types + their 16-bit metadata — plus, when
    * the master runs `binlog_row_metadata=FULL` (MySQL 8 optional metadata
    * TLVs), column names, numeric signedness and ENUM/SET label lists, which
    * make the TABLE_MAP alone sufficient for TYPED decode ([[toColMeta]]) —
    * no live `SHOW FULL COLUMNS` fetch needed. */
  final case class TableMap(db: String, table: String, colTypes: Array[Int],
                            colMeta: Array[Int],
                            colNames: Option[Array[String]] = None,
                            unsignedCols: Option[Array[Boolean]] = None,
                            enumValues: Map[Int, Seq[String]] = Map.empty,
                            setValues: Map[Int, Seq[String]] = Map.empty) {

    /** The column's decode-relevant type after unwrapping STRING(254)'s
      * (real_type, length) multiplexing. */
    private def realType(i: Int): Int = {
      val t = colTypes(i)
      if (t == TYPE_STRING) {
        val real = colMeta(i) >> 8
        if (real == TYPE_ENUM || real == TYPE_SET) real else t
      } else t
    }

    /** [[graft.cdc.Decode.ColMeta]] synthesized from FULL optional metadata —
      * defined iff the master sent COLUMN_NAME TLVs. The rawType strings
      * carry exactly what [[graft.cdc.RowImageJson]] dispatches
      * on (prefix + unsigned marker), so envelopes decoded through this path
      * are byte-identical to registry-driven decode. */
    def toColMeta: Option[Seq[graft.cdc.Decode.ColMeta]] = colNames.map { names =>
      require(names.length == colTypes.length,
        s"FULL metadata names (${names.length}) vs columns (${colTypes.length})")
      names.indices.map { i =>
        val uns = unsignedCols.exists(_(i))
        val base = realType(i) match {
          case TYPE_TINY => "tinyint"
          case TYPE_SHORT => "smallint"
          case TYPE_INT24 => "mediumint"
          case TYPE_LONG => "int"
          case TYPE_LONGLONG => "bigint"
          case TYPE_FLOAT => "float"
          case TYPE_DOUBLE => "double"
          case TYPE_DECIMAL | TYPE_NEWDECIMAL =>
            s"decimal(${colMeta(i) & 0xff},${colMeta(i) >> 8})"
          case TYPE_ENUM =>
            enumValues.getOrElse(i, Nil).map(v => s"'$v'").mkString("enum(", ",", ")")
          case TYPE_SET =>
            setValues.getOrElse(i, Nil).map(v => s"'$v'").mkString("set(", ",", ")")
          case TYPE_VARCHAR | TYPE_VAR_STRING => s"varchar(${colMeta(i)})"
          case TYPE_STRING => s"char(${colMeta(i) & 0xff})"
          case TYPE_BIT => s"bit(${(colMeta(i) >> 8) * 8 + (colMeta(i) & 0xff)})"
          case TYPE_DATE => "date"
          case TYPE_TIME | TYPE_TIME2 => "time"
          case TYPE_DATETIME | TYPE_DATETIME2 => "datetime"
          case TYPE_TIMESTAMP | TYPE_TIMESTAMP2 => "timestamp"
          case TYPE_YEAR => "year"
          case TYPE_JSON => "json"
          case TYPE_TINY_BLOB | TYPE_MEDIUM_BLOB | TYPE_LONG_BLOB | TYPE_BLOB => "blob"
          case TYPE_GEOMETRY => "geometry"
          case other => s"type$other"
        }
        graft.cdc.Decode.ColMeta(names(i), if (uns) s"$base unsigned" else base,
          uns, enumValues.getOrElse(i, Nil), setValues.getOrElse(i, Nil))
      }
    }
  }

  // ------------------------------------------------------------------ cursors

  /** Little cursor over one event's bytes. All multi-byte integers in the
    * binlog body are little-endian unless noted (the packed temporal types
    * are big-endian, as in the on-disk format). */
  final class Cursor(val bytes: Array[Byte], var at: Int) {
    def remaining: Int = bytes.length - at
    def u8(): Int = { val v = bytes(at) & 0xff; at += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u24(): Int = u8() | (u8() << 8) | (u8() << 16)
    def u32(): Long = u24().toLong | ((u8().toLong) << 24)
    def u48(): Long = u32() | ((u16().toLong) << 32)
    def i64(): Long = u32() | (u32() << 32)
    def skip(n: Int): Unit = at += n
    def take(n: Int): Array[Byte] = { val a = java.util.Arrays.copyOfRange(bytes, at, at + n); at += n; a }
    def str(n: Int): String = new String(take(n), StandardCharsets.UTF_8)
    /** Big-endian unsigned int of n bytes (packed temporal formats). */
    def beUint(n: Int): Long = { var v = 0L; var i = 0; while (i < n) { v = (v << 8) | (u8().toLong); i += 1 }; v }
    /** MySQL length-encoded integer. */
    def lenenc(): Long = u8() match {
      case 0xfb => -1L // NULL marker (not used in row images, but complete)
      case 0xfc => u16().toLong
      case 0xfd => u24().toLong
      case 0xfe => i64()
      case v    => v.toLong
    }
  }

  // ------------------------------------------------------- TABLE_MAP metadata

  /** Bytes of per-column metadata in a TABLE_MAP for each wire type. */
  private def metaLen(t: Int): Int = t match {
    case TYPE_FLOAT | TYPE_DOUBLE | TYPE_BLOB | TYPE_TINY_BLOB | TYPE_MEDIUM_BLOB |
         TYPE_LONG_BLOB | TYPE_JSON | TYPE_GEOMETRY |
         TYPE_TIMESTAMP2 | TYPE_DATETIME2 | TYPE_TIME2 => 1
    case TYPE_VARCHAR | TYPE_BIT | TYPE_NEWDECIMAL | TYPE_VAR_STRING => 2
    case TYPE_ENUM | TYPE_SET | TYPE_STRING => 2
    case _ => 0
  }

  def parseTableMap(c: Cursor): (Long, TableMap) = {
    val tableId = c.u48()
    c.skip(2) // flags
    val dbLen = c.u8(); val db = c.str(dbLen); c.skip(1)
    val tblLen = c.u8(); val table = c.str(tblLen); c.skip(1)
    val n = c.lenenc().toInt
    val types = Array.fill(n)(c.u8())
    c.lenenc() // metadata block length (redundant with per-type walk)
    val meta = new Array[Int](n)
    var i = 0
    while (i < n) {
      meta(i) = metaLen(types(i)) match {
        case 0 => 0
        case 1 => c.u8()
        case 2 => types(i) match {
          // ENUM/SET/STRING pack (real_type, length) BIG-endian; the
          // numeric 2-byte metas (VARCHAR max-len, NEWDECIMAL prec/scale,
          // BIT bits) are little-endian pairs.
          case TYPE_ENUM | TYPE_SET | TYPE_STRING => (c.u8() << 8) | c.u8()
          case _ => c.u16()
        }
      }
      i += 1
    }
    // trailing null-bits bitmap, then (MySQL 8, binlog_row_metadata=FULL)
    // optional metadata TLVs: type(1) length(lenenc) value. The CRC was
    // stripped by the caller, so TLVs run to the end of the body.
    c.skip((n + 7) / 8)
    var names: Option[Array[String]] = None
    var unsigned: Option[Array[Boolean]] = None
    var enums = Map.empty[Int, Seq[String]]
    var sets = Map.empty[Int, Seq[String]]
    // group→column-index maps for the per-kind TLVs: SIGNEDNESS bits cover
    // NUMERIC columns only, ENUM/SET label groups arrive in column order
    def isNumeric(t: Int): Boolean = t match {
      case TYPE_DECIMAL | TYPE_TINY | TYPE_SHORT | TYPE_INT24 | TYPE_LONG |
           TYPE_LONGLONG | TYPE_NEWDECIMAL | TYPE_FLOAT | TYPE_DOUBLE => true
      case _ => false
    }
    def realOf(i: Int): Int =
      if (types(i) == TYPE_STRING) {
        val r = meta(i) >> 8
        if (r == TYPE_ENUM || r == TYPE_SET) r else types(i)
      } else types(i)
    val numericIdx = types.indices.filter(i => isNumeric(types(i)))
    val enumIdx = types.indices.filter(i => realOf(i) == TYPE_ENUM)
    val setIdx = types.indices.filter(i => realOf(i) == TYPE_SET)
    while (c.remaining > 0) {
      val tlv = c.u8()
      val len = c.lenenc().toInt
      val end = c.at + len
      tlv match {
        case 1 => // SIGNEDNESS: one bit per numeric column, MSB-first
          val bits = c.take(len)
          val u = new Array[Boolean](n)
          numericIdx.zipWithIndex.foreach { case (ci, k) =>
            if (k < bits.length * 8 && (bits(k >> 3) & (0x80 >> (k & 7))) != 0)
              u(ci) = true
          }
          unsigned = Some(u)
        case 4 => // COLUMN_NAME: lenenc-prefixed strings, one per column
          val out = Array.newBuilder[String]
          while (c.at < end) out += c.str(c.lenenc().toInt)
          names = Some(out.result())
        case 5 => // SET_STR_VALUE: per SET column, count + labels
          var gi = 0
          while (c.at < end && gi < setIdx.length) {
            val cnt = c.lenenc().toInt
            sets += (setIdx(gi) -> Seq.fill(cnt)(c.str(c.lenenc().toInt)))
            gi += 1
          }
        case 6 => // ENUM_STR_VALUE: per ENUM column, count + labels
          var gi = 0
          while (c.at < end && gi < enumIdx.length) {
            val cnt = c.lenenc().toInt
            enums += (enumIdx(gi) -> Seq.fill(cnt)(c.str(c.lenenc().toInt)))
            gi += 1
          }
        case _ => () // charsets, pk, visibility, geometry: not decode-relevant
      }
      c.at = end
    }
    (tableId, TableMap(db, table, types, meta, names, unsigned, enums, sets))
  }

  // -------------------------------------------------------------- value decode

  private def bitsSet(bitmap: Array[Byte], upto: Int): Int = {
    var c = 0; var i = 0
    while (i < upto) { if ((bitmap(i >> 3) & (1 << (i & 7))) != 0) c += 1; i += 1 }
    c
  }
  private def isSet(bitmap: Array[Byte], i: Int): Boolean =
    (bitmap(i >> 3) & (1 << (i & 7))) != 0

  /** Bytes used per 9-digit ("decimal digit group") prefix — the packed
    * NEWDECIMAL layout's digits→bytes table. */
  private val dig2bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

  /** Exact packed-decimal → decimal string (row_event.go decodeDecimal
    * semantics, without the float64 narrowing). */
  def decodeDecimal(c: Cursor, precision: Int, scale: Int): String = {
    val intDigits = precision - scale
    val intFull = intDigits / 9; val intRem = intDigits % 9
    val fracFull = scale / 9; val fracRem = scale % 9
    val size = intFull * 4 + dig2bytes(intRem) + fracFull * 4 + dig2bytes(fracRem)
    val raw = c.take(size)
    val negative = (raw(0) & 0x80) == 0
    raw(0) = (raw(0) ^ 0x80).toByte
    if (negative) { var i = 0; while (i < raw.length) { raw(i) = (~raw(i)).toByte; i += 1 } }
    val rc = new Cursor(raw, 0)
    val sb = new StringBuilder
    if (negative) sb += '-'
    var started = false
    def groupStr(v: Long, digits: Int): Unit = {
      val s = v.toString
      if (!started) { if (v != 0) { sb ++= s; started = true } }
      else sb ++= ("0" * (digits - s.length)) ++= s
    }
    if (intRem > 0) groupStr(rc.beUint(dig2bytes(intRem)), intRem)
    var g = 0
    while (g < intFull) { groupStr(rc.beUint(4), 9); g += 1 }
    if (!started) sb += '0'
    if (scale > 0) {
      sb += '.'
      g = 0
      while (g < fracFull) { val s = rc.beUint(4).toString; sb ++= ("0" * (9 - s.length)) ++= s; g += 1 }
      if (fracRem > 0) { val s = rc.beUint(dig2bytes(fracRem)).toString; sb ++= ("0" * (fracRem - s.length)) ++= s }
    }
    sb.result()
  }

  private def pad2(v: Long): String = if (v < 10) s"0$v" else v.toString

  private def fracMicros(c: Cursor, fsp: Int): Long = {
    val bytes = (fsp + 1) / 2
    if (bytes == 0) 0L
    else {
      val v = c.beUint(bytes)
      bytes match { case 1 => v * 10000L; case 2 => v * 100L; case _ => v }
    }
  }
  private def fracSuffix(micros: Long, fsp: Int): String =
    if (fsp == 0) ""
    else {
      val s = f"$micros%06d".substring(0, fsp)
      s".$s"
    }

  /** Decode one non-null column value to its positional string carrier.
    * Mirrors `row_event.go:385-500`'s type switch; the carrier conventions
    * are [[graft.cdc.Decode]]'s input contract. */
  def decodeValue(c: Cursor, wireType: Int, meta: Int): String = {
    // STRING(254) multiplexes ENUM/SET/plain CHAR through its metadata.
    var t = wireType
    var length = 0
    if (t == TYPE_STRING) {
      val real = meta >> 8
      if (real == TYPE_ENUM || real == TYPE_SET) t = real
      else {
        length = meta & 0xff
        if ((real & 0x30) != 0x30) length += ((real & 0x30) ^ 0x30) << 4
      }
    }
    t match {
      case TYPE_TINY     => c.u8().toByte.toString
      case TYPE_SHORT    => c.u16().toShort.toString
      case TYPE_INT24    => { val v = c.u24(); (if ((v & 0x800000) != 0) v | 0xff000000 else v).toString }
      case TYPE_LONG     => c.u32().toInt.toString
      case TYPE_LONGLONG => c.i64().toString
      case TYPE_YEAR     => { val v = c.u8(); (if (v == 0) 0 else 1900 + v).toString }
      case TYPE_FLOAT    => java.lang.Float.intBitsToFloat(c.u32().toInt).toString
      case TYPE_DOUBLE   => java.lang.Double.longBitsToDouble(c.i64()).toString
      case TYPE_NEWDECIMAL => decodeDecimal(c, meta & 0xff, meta >> 8)
      case TYPE_BIT =>
        val nbits = (meta >> 8) * 8 + (meta & 0xff)
        c.beUint((nbits + 7) / 8).toString
      case TYPE_ENUM =>
        ((meta & 0xff) match { case 1 => c.u8().toLong; case _ => c.u16().toLong }).toString
      case TYPE_VARCHAR | TYPE_VAR_STRING =>
        val len = if (meta < 256) c.u8() else c.u16()
        c.str(len)
      case TYPE_STRING => // plain CHAR(n): `length` computed above
        val len = if (length < 256) c.u8() else c.u16()
        c.str(len)
      case TYPE_BLOB | TYPE_TINY_BLOB | TYPE_MEDIUM_BLOB | TYPE_LONG_BLOB | TYPE_GEOMETRY =>
        val len = meta match {
          case 1 => c.u8().toLong; case 2 => c.u16().toLong
          case 3 => c.u24().toLong; case _ => c.u32()
        }
        new String(c.take(len.toInt), StandardCharsets.UTF_8)
      case TYPE_DATE =>
        val v = c.u24()
        if (v == 0) "0000-00-00"
        else f"${v >> 9}%04d-${(v >> 5) & 15}%02d-${v & 31}%02d"
      // Legacy (pre-5.6.4) temporals — still on the wire from old masters.
      case TYPE_TIMESTAMP => // 4-byte LE unix seconds
        val secs = c.u32()
        val dt = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
        f"${dt.getYear}%04d-${dt.getMonthValue}%02d-${dt.getDayOfMonth}%02d " +
          f"${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d"
      case TYPE_DATETIME => // 8-byte LE packed decimal YYYYMMDDHHMMSS
        val v = c.i64()
        val d0 = v / 1000000L; val t0 = v % 1000000L
        f"${d0 / 10000}%04d-${(d0 % 10000) / 100}%02d-${d0 % 100}%02d " +
          f"${t0 / 10000}%02d:${(t0 % 10000) / 100}%02d:${t0 % 100}%02d"
      case TYPE_TIME => // 3-byte LE packed decimal HHMMSS (signed range unused)
        val v = c.u24()
        f"${v / 10000}%02d:${(v % 10000) / 100}%02d:${v % 100}%02d"
      case TYPE_TIME2 =>
        val v = c.beUint(3) - 0x800000L
        val abs = math.abs(v)
        val hh = (abs >> 12) & 0x3ff; val mm = (abs >> 6) & 0x3f; val ss = abs & 0x3f
        val micros = fracMicros(c, meta)
        (if (v < 0) "-" else "") + s"${pad2(hh)}:${pad2(mm)}:${pad2(ss)}" + fracSuffix(micros, meta)
      case TYPE_DATETIME2 =>
        val v = c.beUint(5) - 0x8000000000L
        val ym = (v >> 22) & 0x1ffff
        val year = ym / 13; val month = ym % 13
        val day = (v >> 17) & 0x1f; val hh = (v >> 12) & 0x1f
        val mm = (v >> 6) & 0x3f; val ss = v & 0x3f
        val micros = fracMicros(c, meta)
        f"$year%04d-$month%02d-$day%02d ${pad2(hh)}:${pad2(mm)}:${pad2(ss)}" + fracSuffix(micros, meta)
      case TYPE_TIMESTAMP2 =>
        val secs = c.beUint(4)
        val micros = fracMicros(c, meta)
        val dt = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
        f"${dt.getYear}%04d-${dt.getMonthValue}%02d-${dt.getDayOfMonth}%02d " +
          f"${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d" + fracSuffix(micros, meta)
      case TYPE_JSON =>
        val len = meta match {
          case 1 => c.u8().toLong; case 2 => c.u16().toLong
          case 3 => c.u24().toLong; case _ => c.u32()
        }
        decodeJsonb(c.take(len.toInt))
      case other =>
        throw new UnsupportedOperationException(s"graft-binlog: unsupported column type $other")
    }
  }

  // ------------------------------------------------------------- binary JSON

  // JSONB type bytes (MySQL's json_binary format, public).
  private val JB_SMALL_OBJ = 0x00; private val JB_LARGE_OBJ = 0x01
  private val JB_SMALL_ARR = 0x02; private val JB_LARGE_ARR = 0x03
  private val JB_LITERAL = 0x04
  private val JB_INT16 = 0x05; private val JB_UINT16 = 0x06
  private val JB_INT32 = 0x07; private val JB_UINT32 = 0x08
  private val JB_INT64 = 0x09; private val JB_UINT64 = 0x0a
  private val JB_DOUBLE = 0x0b; private val JB_STRING = 0x0c

  /** MySQL binary JSON (JSONB, the TYPE_JSON column payload) → JSON text —
    * the sub-format go-mysql decodes in `replication/json_binary.go`.
    * Containers store (count, total-size) headers plus offset tables; small
    * scalars (literals, 16-bit ints) are INLINED in the 2-byte value slots.
    * Opaque/decimal payloads are out of scope and fail fast. */
  def decodeJsonb(data: Array[Byte]): String = {
    if (data.isEmpty) return "null"
    val sb = new StringBuilder(data.length * 2)
    renderJsonb(data, data(0) & 0xff, 1, sb)
    sb.result()
  }

  /** Little-endian uint of `n` bytes at `at`. */
  private def leAt(data: Array[Byte], at: Int, n: Int): Long = {
    var v = 0L; var i = 0
    while (i < n) { v |= (data(at + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** High-bit-continuation varlen (JSONB string length). Returns (len, bytesUsed). */
  private def jbVarlen(data: Array[Byte], at: Int): (Int, Int) = {
    var v = 0; var i = 0; var b = 0
    do { b = data(at + i) & 0xff; v |= (b & 0x7f) << (7 * i); i += 1 } while ((b & 0x80) != 0)
    (v, i)
  }

  /** Render the value of JSONB type `t` whose payload starts at `at` (for
    * containers/strings `at` is the payload base; scalars read LE ints). */
  private def renderJsonb(data: Array[Byte], t: Int, at: Int, sb: StringBuilder): Unit = t match {
    case JB_LITERAL => sb ++= ((data(at) & 0xff) match {
      case 0 => "null"; case 1 => "true"; case 2 => "false"
      case o => throw new UnsupportedOperationException(s"graft-binlog: JSONB literal $o")
    })
    case JB_INT16  => sb ++= leAt(data, at, 2).toShort.toString
    case JB_UINT16 => sb ++= leAt(data, at, 2).toString
    case JB_INT32  => sb ++= leAt(data, at, 4).toInt.toString
    case JB_UINT32 => sb ++= leAt(data, at, 4).toString
    case JB_INT64  => sb ++= leAt(data, at, 8).toString
    case JB_UINT64 => sb ++= java.lang.Long.toUnsignedString(leAt(data, at, 8))
    case JB_DOUBLE => sb ++= java.lang.Double.longBitsToDouble(leAt(data, at, 8)).toString
    case JB_STRING =>
      val (len, used) = jbVarlen(data, at)
      sb += '"'
      sb ++= jsonEscape(new String(data, at + used, len, StandardCharsets.UTF_8))
      sb += '"'
    case JB_SMALL_OBJ | JB_LARGE_OBJ | JB_SMALL_ARR | JB_LARGE_ARR =>
      val large = t == JB_LARGE_OBJ || t == JB_LARGE_ARR
      val isObj = t == JB_SMALL_OBJ || t == JB_LARGE_OBJ
      val w = if (large) 4 else 2
      val count = leAt(data, at, w).toInt
      // offsets in entry tables are relative to the container's start (`at`)
      val keyEntries = at + 2 * w // after count + size
      val valEntries = keyEntries + (if (isObj) count * (w + 2) else 0)
      sb += (if (isObj) '{' else '[')
      var i = 0
      while (i < count) {
        if (i > 0) sb += ','
        if (isObj) {
          val kOff = leAt(data, keyEntries + i * (w + 2), w).toInt
          val kLen = leAt(data, keyEntries + i * (w + 2) + w, 2).toInt
          sb += '"'; sb ++= jsonEscape(new String(data, at + kOff, kLen, StandardCharsets.UTF_8))
          sb ++= "\":"
        }
        val e = valEntries + i * (1 + w)
        val vt = data(e) & 0xff
        val inlined = vt == JB_LITERAL || vt == JB_INT16 || vt == JB_UINT16 ||
          (large && (vt == JB_INT32 || vt == JB_UINT32))
        if (inlined) renderJsonb(data, vt, e + 1, sb)
        else renderJsonb(data, vt, at + leAt(data, e + 1, w).toInt, sb)
        i += 1
      }
      sb += (if (isObj) '}' else ']')
    case other =>
      throw new UnsupportedOperationException(s"graft-binlog: JSONB type 0x${other.toHexString}")
  }

  /** SET needs its own arm (n-byte LE bitmask, n = packed size). Split out of
    * the match above for clarity. */
  private def decodeSet(c: Cursor, meta: Int): String = {
    val n = meta & 0xff
    var v = 0L; var i = 0
    while (i < n) { v |= (c.u8().toLong) << (8 * i); i += 1 }
    v.toString
  }

  // -------------------------------------------------------------- row images

  /** Decode one row image: null-bitmap over the PRESENT columns, then values.
    * Returns one string-or-null per present column (positional). */
  def decodeImage(c: Cursor, tm: TableMap, present: Array[Byte]): Array[String] = {
    val nPresent = bitsSet(present, tm.colTypes.length)
    val nullBits = c.take((nPresent + 7) / 8)
    val out = new Array[String](nPresent)
    var col = 0; var slot = 0
    while (col < tm.colTypes.length) {
      if (isSet(present, col)) {
        if (isSet(nullBits, slot)) out(slot) = null
        else {
          val t = tm.colTypes(col); val m = tm.colMeta(col)
          out(slot) =
            if (t == TYPE_SET || (t == TYPE_STRING && (m >> 8) == TYPE_SET)) decodeSet(c, m)
            else decodeValue(c, t, m)
        }
        slot += 1
      }
      col += 1
    }
    out
  }

  // ------------------------------------------------------------ JSON emission

  def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case ch if ch < 0x20 => sb ++= f"\\u${ch.toInt}%04x"
      case ch   => sb += ch
    }
    sb.result()
  }

  /** One raw-positional JSON line (the [[graft.streaming.CdcStream.rawPositionalSchema]]
    * wire form). `rows` entries may contain nulls; `query` only on alter. */
  def positionalLine(db: String, table: String, action: String, ts: Long,
                     stmtSeq: Long, rows: Seq[Array[String]], query: String): String = {
    val sb = new StringBuilder(256)
    sb ++= "{\"database\":\"" ++= jsonEscape(db) ++= "\",\"table\":\"" ++= jsonEscape(table)
    sb ++= "\",\"action\":\"" ++= action ++= "\",\"ts\":" ++= ts.toString
    sb ++= ",\"stmt_seq\":" ++= stmtSeq.toString
    if (rows == null) sb ++= ",\"rows\":null"
    else {
      sb ++= ",\"rows\":["
      var i = 0
      rows.foreach { img =>
        if (i > 0) sb += ','
        sb += '['
        var j = 0
        img.foreach { v =>
          if (j > 0) sb += ','
          if (v == null) sb ++= "null" else { sb += '"'; sb ++= jsonEscape(v); sb += '"' }
          j += 1
        }
        sb += ']'
        i += 1
      }
      sb += ']'
    }
    if (query != null) { sb ++= ",\"query\":\""; sb ++= jsonEscape(query); sb += '"' }
    sb += '}'
    sb.result()
  }

  /** ALTER TABLE [db.]tbl … — DDL routed to `action=alter` lines. */
  val alterRegex: java.util.regex.Pattern = java.util.regex.Pattern.compile(
    """(?is)^\s*ALTER\s+TABLE\s+(?:`?([\w$]+)`?\s*\.\s*)?`?([\w$]+)`?\b.*""")
}

/** Stateful per-stream event decoder: the shared core between the FILE
  * framing ([[BinaryBinlogReader]]) and the replication-SOCKET framing
  * ([[ReplicationBinlogReader]]). Holds the stream's TABLE_MAP registry and
  * checksum mode (both are properties of ONE ordered event stream, which is
  * why a reader never shares a decoder), verifies/strips CRC32 when the
  * FORMAT_DESCRIPTION event declared it, and renders emitted statements as
  * positional JSON lines. Framing (where the 19-byte header + body come
  * from: file bytes vs OK-wrapped packets) stays in the readers. */
final class BinlogEventDecoder(seqBase: Long, source: String,
                               attachRowsQuery: Boolean = false) {
  import BinlogWire._

  private var checksummed = false
  private val tableMaps = scala.collection.mutable.Map[Long, TableMap]()
  /** The pending ROWS_QUERY_EVENT text (binlog_rows_query_log_events=ON):
    * MySQL logs the ORIGINAL SQL statement once per row-logged statement,
    * just before its TABLE_MAP. When `attachRowsQuery` is on, subsequent
    * rows lines carry it in the `query` field (normally null on rows lines —
    * the Debezium-style provenance enrichment) until the next statement's
    * ROWS_QUERY overwrites it or the transaction's XID clears it. Default
    * OFF: the positional stream is byte-identical to a server that does not
    * log the event. */
  private var pendingRowsQuery: String = null
  /** Last FULL-metadata schema emitted per table — a TABLE_MAP arrives
    * before EVERY statement, so observations are deduped to changes; a
    * duplicate emission (e.g. after a split/rotate re-creates the decoder)
    * is harmless, the registry's applySchema is idempotent. */
  private val emittedSchemas =
    scala.collection.mutable.Map[(String, String), Seq[graft.cdc.Decode.ColMeta]]()

  /** Whether the FORMAT_DESCRIPTION declared CRC32 checksums — body tails of
    * subsequent events then carry 4 CRC bytes (the rotate payload parser
    * needs this to find the file-name length). */
  def isChecksummed: Boolean = checksummed

  /** Decode one framed event. `head` is the raw 19 header bytes, `body0` the
    * event body INCLUDING the trailing CRC when the stream is checksummed.
    * Returns the emitted positional line, or null for framing-only events
    * (FORMAT_DESCRIPTION, TABLE_MAP, ROTATE, XID, non-ALTER queries). */
  def decode(head: Array[Byte], body0: Array[Byte], eventStart: Long): String = {
    val hc = new Cursor(head, 0)
    val ts = hc.u32()
    val etype = hc.u8()
    var body = body0

    if (etype == FORMAT_DESCRIPTION_EVENT) {
      // payload: version(2) + server_version(50) + created(4) + header_len(1)
      // + post-header-len array; the final 1+4 bytes are (checksum_alg, crc)
      // when the server writes checksums — alg byte position is
      // size-dependent, so read it from the tail.
      val alg = body(body.length - 5)
      if (alg == 1) { checksummed = true }
      return null
    }
    if (checksummed) {
      // verify + strip CRC32 over header+body-minus-crc
      val crc = new CRC32()
      crc.update(head)
      crc.update(body, 0, body.length - 4)
      val stored = java.lang.Integer.toUnsignedLong(
        (body(body.length - 4) & 0xff) | ((body(body.length - 3) & 0xff) << 8) |
          ((body(body.length - 2) & 0xff) << 16) | ((body(body.length - 1) & 0xff) << 24))
      require(crc.getValue == stored,
        s"binlog CRC mismatch at offset $eventStart in $source")
      body = java.util.Arrays.copyOf(body, body.length - 4)
    }

    val c = new Cursor(body, 0)
    etype match {
      case TABLE_MAP_EVENT =>
        val (id, tm) = parseTableMap(c)
        tableMaps(id) = tm
        // binlog_row_metadata=FULL: the map itself carries the complete
        // column list — surface new/changed schemas as `action=schema`
        // control lines so the registry registers and versions the table
        // with NO live SHOW FULL COLUMNS fetch ([[SchemaRegistry.applySchema]]).
        tm.toColMeta match {
          case Some(cols) if !emittedSchemas.get((tm.db, tm.table)).contains(cols) =>
            emittedSchemas((tm.db, tm.table)) = cols
            positionalLine(tm.db, tm.table, "schema", ts, seqBase + eventStart,
              null, graft.cdc.SchemaRegistry.encodeSchema(cols))
          case _ => null
        }
      case WRITE_ROWS_V1 | WRITE_ROWS_V2 | DELETE_ROWS_V1 | DELETE_ROWS_V2 |
           UPDATE_ROWS_V1 | UPDATE_ROWS_V2 =>
        rowsLine(c, etype, ts, eventStart)
      case QUERY_EVENT =>
        pendingRowsQuery = null // a new statement context (BEGIN/DDL) scopes it out
        c.skip(4 + 4) // thread_id, exec_time
        val dbLen = c.u8()
        c.skip(2) // error code
        val statusLen = c.u16()
        c.skip(statusLen)
        val db = c.str(dbLen); c.skip(1)
        val query = c.str(c.remaining)
        val m = BinlogWire.alterRegex.matcher(query)
        if (m.matches()) {
          val qdb = Option(m.group(1)).getOrElse(db)
          positionalLine(qdb, m.group(2), "alter", ts, seqBase + eventStart, null, query)
        } else null
      case ROWS_QUERY_EVENT =>
        // body: 1 ignorable length byte (the text may exceed 255 and always
        // runs to the event's end), then the statement text
        if (attachRowsQuery) { c.skip(1); pendingRowsQuery = c.str(c.remaining) }
        null
      case XID_EVENT =>
        pendingRowsQuery = null // transaction committed: provenance scope ends
        null
      case _ => null // ROTATE/others: framing only
    }
  }

  private def rowsLine(c: Cursor, etype: Int, ts: Long, eventStart: Long): String = {
    val tableId = c.u48()
    c.skip(2) // flags
    if (etype >= WRITE_ROWS_V2) { val extraLen = c.u16(); c.skip(extraLen - 2) }
    val tm = tableMaps.getOrElse(tableId,
      throw new IllegalStateException(s"ROWS event for unmapped table id $tableId"))
    val nCols = c.lenenc().toInt
    require(nCols == tm.colTypes.length, s"column count mismatch for ${tm.db}.${tm.table}")
    val bmLen = (nCols + 7) / 8
    val present1 = c.take(bmLen)
    val isUpdate = etype == UPDATE_ROWS_V1 || etype == UPDATE_ROWS_V2
    val present2 = if (isUpdate) c.take(bmLen) else present1
    val images = Seq.newBuilder[Array[String]]
    var toggle = false // for updates: false = before image next
    while (c.remaining > 0) {
      val present = if (isUpdate && toggle) present2 else present1
      images += decodeImage(c, tm, present)
      toggle = !toggle
    }
    val action = etype match {
      case WRITE_ROWS_V1 | WRITE_ROWS_V2 => "insert"
      case DELETE_ROWS_V1 | DELETE_ROWS_V2 => "delete"
      case _ => "update"
    }
    positionalLine(tm.db, tm.table, action, ts, seqBase + eventStart,
      images.result(), pendingRowsQuery)
  }
}

/** [[BinlogReader]] over a REAL binlog-format file. Event framing is
  * sequential by nature (TABLE_MAP state, like the reference's single
  * replication stream), so the reader always parses from the file's magic;
  * it EMITS only statements whose event starts inside `[fromByte,
  * untilByte)` — the same split-ownership rule as [[FileBinlogReader]], so
  * the DSv2 planner needs no special casing (a split re-reads the prefix's
  * metadata events but never re-emits their rows). For true binlogs one
  * split per file (`splitBytes` ≥ file size) is the natural configuration.
  *
  * `seqBase` is added to each statement's `stmt_seq` (= its event's byte
  * offset within this file): the DSv2 factory passes the file's GLOBAL base
  * offset, making `stmt_seq` the global byte position — strictly monotone
  * ACROSS the sorted file sequence, which drift versioning and event
  * ordering depend on (a rotate to a new file must not reset sequences,
  * exactly like `mysql.Position` pairs file+offset). */
final class BinaryBinlogReader(file: String, fromByte: Long, untilByte: Long,
                               seqBase: Long = 0L, attachRowsQuery: Boolean = false)
    extends BinlogReader {
  import BinlogWire._

  private val in = new BufferedInputStream(Files.newInputStream(Paths.get(file)), 1 << 16)
  private var pos: Long = 0L
  private val decoder = new BinlogEventDecoder(seqBase, file, attachRowsQuery)
  locally {
    val magic = readN(4)
    require(magic != null && java.util.Arrays.equals(magic, Magic),
      s"not a binlog file (bad magic): $file")
  }

  private def readN(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) { if (off == 0) return null else throw new EOFException(s"truncated event in $file") }
      off += r
    }
    pos += n
    buf
  }

  /** Parse events until one yields an emitted line in-range, or EOF. */
  override def nextLine(): (Long, String) = {
    while (true) {
      val eventStart = pos
      if (eventStart >= untilByte) return null
      val head = readN(19)
      if (head == null) return null
      val eventSize = ((head(9) & 0xffL) | ((head(10) & 0xffL) << 8) |
        ((head(11) & 0xffL) << 16) | ((head(12) & 0xffL) << 24)).toInt
      val body = readN(eventSize - 19)
      if (body == null) throw new EOFException(s"truncated event body in $file")
      val line = decoder.decode(head, body, eventStart)
      if (line != null && eventStart >= fromByte) return (eventStart, line)
    }
    null // unreachable
  }

  override def close(): Unit = in.close()
}

