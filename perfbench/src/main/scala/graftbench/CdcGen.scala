package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.cdc.Decode.ColMeta
import graft.source.{BinlogFixtureWriter, BinlogWire}

/** CDC traffic rendered as real binlog bytes through the program's own test
  * fixture writer (FDE, TABLE_MAP, ROWS v2, QUERY, CRC32).
  *
  * The rows are the catalog's sf0.1 `events` table (`Tables.events`), in
  * `event_id` order: event_id, user_id, event_type, value, ts (DATETIME2
  * with microseconds) and props, each on `shop.events_<user_id % 4>`. The
  * seed picks only the insert/update/delete mix, the 1–3 row images per
  * event, the rows an update or delete touches, an update's new values
  * (those of another table row) and where the `ALTER … ADD COLUMN`
  * statements fall, so later rows of a table decode under a second schema
  * version. The generator keeps every envelope it should produce, in
  * event-index order, as the oracle for [[EnvelopeCheck]]. */
object CdcGen {
  import BinlogWire._

  val Tables = 4

  /** One row image; `note` exists once its table was altered. */
  final case class Img(id: Long, user: Long, kind: String, value: Double, tsUs: Long,
                       props: String, note: Option[String]) {
    def table: Int = (user % Tables).toInt
  }

  /** One expected envelope: `before` is the row (insert/delete) or the old
    * image (update); `after` only for updates; alters carry neither. */
  final case class Env(table: Int, action: String, before: Option[Img], after: Option[Img])

  /** The first `n` rows of the events table, in `event_id` order. */
  def events(spark: SparkSession, dataDir: String, n: Int): IndexedSeq[Img] =
    graft.Tables.events(spark, dataDir).orderBy("event_id").limit(n)
      .select("event_id", "user_id", "event_type", "value", "ts_us", "props")
      .collect().toIndexedSeq
      .map(r => Img(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4),
        r.getString(5), None))

  def tsText(us: Long): String = {
    val t = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), 0, ZoneOffset.UTC)
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${Math.floorMod(us, 1000000L)}%06d"
  }

  val BaseCols: Seq[ColMeta] =
    Seq(ColMeta("event_id", "bigint(20)"), ColMeta("user_id", "bigint(20)"),
      ColMeta("event_type", "varchar(16)"), ColMeta("value", "double"),
      ColMeta("ts", "datetime(6)"), ColMeta("props", "varchar(64)"))

  /** The registry an engine run starts from: every table's base schema. */
  def registry(): graft.cdc.SchemaRegistry = {
    val reg = new graft.cdc.SchemaRegistry
    (0 until Tables).foreach(t => reg.register("shop", s"events_$t", BaseCols))
    reg
  }

  /** Stateful traffic source over `rows`: the live rows of each table, the
    * rows not inserted yet, and the expected envelopes emitted so far. */
  final class Traffic(seed: Long, rows: IndexedSeq[Img]) {
    private val rng = new java.util.Random(seed)
    private val live = Array.fill(Tables)(mutable.ArrayBuffer[Img]())
    private val altered = Array.fill(Tables)(false)
    /** Not-yet-inserted row positions per table, in event_id order. */
    private val pending = Array.fill(Tables)(mutable.Queue[Int]())
    rows.indices.foreach(i => pending(rows(i).table) += i)
    private val taken = new java.util.BitSet(rows.size)
    private var cursor = 0
    val expected = mutable.ArrayBuffer[Env]()

    /** Up to `n` next rows of the table that holds the next row in
      * event_id order. */
    private def nextInserts(n: Int): (Int, Seq[Img]) = {
      while (taken.get(cursor)) cursor += 1
      val t = rows(cursor).table
      val q = pending(t)
      val got = (0 until math.min(n, q.size)).map { _ => val i = q.dequeue(); taken.set(i); i }
      (t, got.map(rows))
    }
    private def noted(t: Int, i: Img): Img =
      if (altered(t)) i.copy(note = Some(s"n${i.id % 997}")) else i.copy(note = None)

    /** Render events for the next `n` rows (plus the updates and deletes
      * the seed mixes in) into one binlog file, with an ALTER before the
      * event numbered `alterAt`. */
    def renderFile(path: Path, n: Int, alterAt: Option[Int]): Unit = {
      val w = new BinlogFixtureWriter(checksum = true)
      w.fde()
      var inserted = 0
      var step = 0
      while (inserted < n) {
        if (alterAt.contains(step)) {
          val t = (0 until Tables).find(!altered(_)).getOrElse(-1)
          if (t >= 0) {
            altered(t) = true
            w.query(rows(cursor).tsUs / 1000000L, "shop",
              s"ALTER TABLE shop.events_$t ADD COLUMN note varchar(16)")
            expected += Env(t, "alter", None, None)
          }
        }
        step += 1
        val k = 1 + rng.nextInt(3)
        val roll = rng.nextInt(100)
        val t0 = rng.nextInt(Tables)
        val (t, imgs, etype) =
          if (roll < 70 || live(t0).size < 8) {
            val (t, fresh) = nextInserts(math.min(k, n - inserted))
            inserted += fresh.size
            val imgs = fresh.map(noted(t, _))
            live(t) ++= imgs
            imgs.foreach(i => expected += Env(t, "insert", Some(i), None))
            (t, imgs, WRITE_ROWS_V2)
          } else if (roll < 90) {
            val l = live(t0)
            val imgs = (0 until k).flatMap { _ =>
              val j = rng.nextInt(l.size)
              val old = noted(t0, l(j))
              val src = rows(rng.nextInt(rows.size))
              val nw = old.copy(kind = src.kind, value = src.value, props = src.props,
                tsUs = old.tsUs + 1000000L)
              l(j) = nw
              expected += Env(t0, "update", Some(old), Some(nw))
              Seq(old, nw)
            }
            (t0, imgs, UPDATE_ROWS_V2)
          } else {
            val l = live(t0)
            val imgs = (0 until k).map { _ =>
              val j = rng.nextInt(l.size)
              val old = noted(t0, l(j))
              l(j) = l.last; l.remove(l.size - 1)
              expected += Env(t0, "delete", Some(old), None)
              old
            }
            (t0, imgs, DELETE_ROWS_V2)
          }
        val ts = imgs.head.tsUs / 1000000L
        val tableId = 100L + t * 2 + (if (altered(t)) 1 else 0)
        val cols = Seq(TYPE_LONGLONG -> w.mNone, TYPE_LONGLONG -> w.mNone,
          TYPE_VARCHAR -> w.mLe2(16), TYPE_DOUBLE -> w.m1(8), TYPE_DATETIME2 -> w.m1(6),
          TYPE_VARCHAR -> w.mLe2(64)) ++
          (if (altered(t)) Seq(TYPE_VARCHAR -> w.mLe2(16)) else Nil)
        w.tableMap(ts, tableId, "shop", s"events_$t", cols)
        w.rows(ts, etype, tableId, cols.size, imgs.map(i => encode(w, i)))
      }
      write(path, w.bytes)
    }

    /** DATETIME2(6) is the fixture's five-byte DATETIME2 followed by the
      * microseconds as three big-endian bytes. */
    private def encode(w: BinlogFixtureWriter, i: Img): Seq[Option[Array[Byte]]] = {
      val t = LocalDateTime.ofEpochSecond(Math.floorDiv(i.tsUs, 1000000L), 0, ZoneOffset.UTC)
      val us = Math.floorMod(i.tsUs, 1000000L)
      val frac = Array((us >> 16).toByte, (us >> 8).toByte, us.toByte)
      Seq(w.vLongLong(i.id), w.vLongLong(i.user), w.vVarchar(i.kind, 16), w.vDouble(i.value),
        w.vDatetime2(t.getYear, t.getMonthValue, t.getDayOfMonth, t.getHour, t.getMinute,
          t.getSecond).map(_ ++ frac), w.vVarchar(i.props, 64)) ++
        i.note.map(w.vVarchar(_, 16)).toSeq
    }
  }

  /** Publish a complete file atomically: the source skips dot-files and
    * caches a file's size the first time it lists it. */
  def write(path: Path, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Total bytes of the binlog files in `dir`. */
  def bytes(dir: Path): Long = {
    val s = Files.list(dir)
    try s.filter(p => !p.getFileName.toString.startsWith(".")).mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }

  /** A backfill of `rows` over files of `rowsPerFile`, with one ALTER early
    * in three of the files. */
  def backfill(seed: Long, dir: Path, rows: IndexedSeq[Img], rowsPerFile: Int): Traffic = {
    Files.createDirectories(dir)
    val tr = new Traffic(seed, rows)
    val files = (rows.size + rowsPerFile - 1) / rowsPerFile
    val alterFiles = Set(files / 4, files / 2, 3 * files / 4)
    (0 until files).foreach { f =>
      val n = math.min(rowsPerFile, rows.size - f * rowsPerFile)
      tr.renderFile(dir.resolve(f"binlog.$f%06d"), n,
        alterAt = if (alterFiles(f)) Some(n / 3) else None)
    }
    tr
  }
}
