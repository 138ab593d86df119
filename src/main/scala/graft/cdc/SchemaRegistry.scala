package graft.cdc

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema registry for drift handling (SURVEY §7.4).
  *
  * The reference keeps ONE live schema per table (go-mysql's canal re-fetches
  * `SHOW FULL COLUMNS` on DDL, `vendor/.../canal/canal.go:282-305`) and its
  * readme warns that envelopes decoded around an ALTER can be wrong
  * (`/root/reference/readme.md:54`). This registry does better: every ALTER
  * creates a new immutable VERSION effective from its binlog sequence, so a
  * micro-batch that straddles one or more ALTERs decodes every row with the
  * schema that was live AT THAT ROW's position — including replays (versions
  * are keyed by sequence, so re-applying a batch is idempotent).
  *
  * Registry state is driver-side metadata (tables × versions — control-plane
  * scale, like the reference's `schema.Table` cache); the row decode itself is
  * plan-time specialized per version ([[EnvelopeBuilder.envelopesStaticCase]]:
  * one [[RowImageJson]] kernel per column list) and runs inside whole-stage
  * codegen on the executors, whose generated code does not grow with the
  * number of columns, tables or versions. At 1000 executors the registry
  * adds NO distributed state: the version slices are branches of one ordinary
  * projection.
  */
final class SchemaRegistry {
  import SchemaRegistry._

  // (db, table) -> versions sorted by sinceSeq. Guarded by `this`: mutation is
  // a between-batches control-plane event, never on the executor hot path.
  private var tables = Map.empty[(String, String), Vector[Version]]

  /** Register a table's base schema, effective for every sequence (v1). */
  def register(db: String, table: String, cols: Seq[Decode.ColMeta]): Unit = synchronized {
    tables += (db, table) -> Vector(Version(1, Long.MinValue, cols))
  }

  /** Apply an ALTER effective from `sinceSeq` (the DDL statement's binlog
    * sequence: the row images that FOLLOW it were written under the new
    * schema). Idempotent on (db, table, sinceSeq): replaying the batch that
    * carried the ALTER re-derives the same version instead of stacking a new
    * one — the registry analogue of replay-stable event numbering. */
  def applyAlter(db: String, table: String, sinceSeq: Long, ddl: String): Unit = synchronized {
    val key = (db, table)
    tables.get(key).foreach { vs =>
      val base = vs.takeWhile(_.sinceSeq < sinceSeq)
      if (base.isEmpty) () // ALTER before the base schema's range: ignore
      else {
        val cols = parseAlter(ddl).foldLeft(base.last.cols)(applyOp)
        tables += key -> (base :+ Version(base.size + 1, sinceSeq, cols))
      }
    }
  }

  /** Apply a FULL-optional-metadata schema observation (MySQL 8
    * `binlog_row_metadata=FULL` TABLE_MAP, surfaced by the decoder as an
    * `action=schema` line): the stream itself carries the complete column
    * list, so an UNREGISTERED table registers here zero-config (base
    * version, every sequence — rows in the same batch BEFORE the map were
    * written under the same schema by construction, the map precedes its
    * rows), and a registered table whose current schema differs gains a new
    * version effective from `sinceSeq` — drift handling with neither DDL
    * parsing nor a server round-trip. Idempotent on (db, table, sinceSeq)
    * like [[applyAlter]]; a repeated identical schema is a no-op. */
  def applySchema(db: String, table: String, sinceSeq: Long,
                  cols: Seq[Decode.ColMeta]): Unit = synchronized {
    val key = (db, table)
    tables.get(key) match {
      case None => tables += key -> Vector(Version(1, Long.MinValue, cols))
      case Some(vs) =>
        val base = vs.takeWhile(_.sinceSeq < sinceSeq)
        if (base.isEmpty || vs.exists(_.sinceSeq == sinceSeq) ||
          base.last.cols == cols) ()
        else tables += key -> (base :+ Version(base.size + 1, sinceSeq, cols))
    }
  }

  /** The schema live at `seq`, or None for an unregistered table. */
  def schemaAt(db: String, table: String, seq: Long): Option[Version] =
    synchronized(tables.get((db, table))).flatMap(_.reverseIterator.find(_.sinceSeq <= seq))

  def versionsOf(db: String, table: String): Vector[Version] =
    synchronized(tables.getOrElse((db, table), Vector.empty))

  def registeredTables: Seq[(String, String)] = synchronized(tables.keys.toSeq.sorted)

  /** Decode one positional micro-batch under drift. Input columns are the raw
    * statement mirror with POSITIONAL row images and the DDL text on alters:
    * `database, table, action, ts, stmt_seq, rows ARRAY<ARRAY<STRING>>,
    * query STRING` (`query` is null except on `action='alter'`, like
    * canal's `OnDDL` carrying the statement).
    *
    * Steps:
    *  1. The batch is PERSISTED, then ONE control-plane pass over it
    *     collects, per (db, table), the min/max `stmt_seq`, the row count and
    *     any ALTER statements (rare by nature — the collect is
    *     O(#tables + #DDL), the same driver-side shape as the reference's
    *     OnDDL callback). ALTERs fold into the registry in sequence order.
    *  2. The cached batch is decoded in ONE narrow pass: one filter, one
    *     `posexplode` and one projection whose `CASE` picks, per row, the
    *     column list of the (registered table × version interval) slice the
    *     row falls in ([[EnvelopeBuilder.envelopesStaticCase]]; slices
    *     sharing a column list share one branch, whose images one
    *     [[RowImageJson]] kernel renders). Only slices that intersect
    *     the table's sequence range in THIS batch are planned, so per-batch
    *     plan size is bounded by the drift INSIDE the batch, not by the
    *     stream's lifetime. The pass keeps the batch's partitions and their
    *     row order — a source that delivers binlog order still delivers it
    *     decoded. Unregistered tables' rows are dropped (the caller either
    *     registers schemas up front or routes those tables to the
    *     schema-agnostic [[EnvelopeBuilder.fromPositional]] path).
    *
    * Per-micro-batch callers use [[decodeBatchManaged]] and call the cleanup
    * after the batch's consuming action; one-shot query paths may use this
    * overload and leave the cache to `spark.catalog.clearCache()`.
    */
  def decodeBatch(batch: DataFrame): DataFrame = decodeBatchManaged(batch)._1

  /** [[decodeBatch]] plus the batch's exact raw-statement count (every input
    * row, malformed ones included, taken by the control pass) and the
    * unpersist handle for the batch cache. */
  def decodeBatchManaged(batch: DataFrame): (DataFrame, Long, () => Unit) = {
    // Persist the raw batch FIRST: the control pass below is an action, so
    // running it against the cached frame means ONE source scan per
    // micro-batch (the decode's read substitutes the cached plan subtree),
    // not one for control + one for decode.
    val cached = batch.persist()
    // Pass 1 (control plane): the raw row count, per-table sequence ranges
    // for version pruning and the batch's DDL. collect_list skips the nulls
    // the `when` leaves on non-alter rows, so the payload collected is
    // O(#DDL). Malformed lines (PERMISSIVE json parse → all-null rows) are
    // counted but must not reach the registry: a (null, null) group with
    // min(stmt_seq)=null would NPE the getLong below and kill the stream —
    // the reference's contract is log-and-keep-tailing (sync.go error
    // tolerance).
    val ctl = cached.groupBy("database", "table")
      .agg(min("stmt_seq").as("lo"), max("stmt_seq").as("hi"),
        collect_list(when(
          (col("action") === "alter" || col("action") === "schema") &&
            col("query").isNotNull && col("stmt_seq").isNotNull,
          struct(col("stmt_seq"), col("action"), col("query")))).as("ddl"),
        count(lit(1)).as("n"))
      .collect()
    val rawRows = ctl.map(_.getLong(5)).sum
    val wellFormed = ctl.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
    val ddls = wellFormed.flatMap { r =>
      r.getSeq[org.apache.spark.sql.Row](4)
        .map(d => (r.getString(0), r.getString(1), d.getLong(0),
          d.getString(1), d.getString(2)))
    }.sortBy(_._3)
    ddls.foreach {
      case (db, tbl, seq, "schema", payload) =>
        // FULL-metadata observation: register/version from the stream itself
        SchemaRegistry.decodeSchema(payload).foreach(applySchema(db, tbl, seq, _))
      case (db, tbl, seq, _, ddl) => applyAlter(db, tbl, seq, ddl)
    }
    val ranges: Map[(String, String), (Long, Long)] =
      wellFormed.map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap

    // An EMPTY registry is legal while nothing has arrived (schemaFromStream
    // mode registers from the stream's own FULL-metadata observations) — but
    // rows present with NOTHING registered is silent total data loss, the
    // one thing this gate must never allow.
    require(registeredTables.nonEmpty || ranges.isEmpty,
      "SchemaRegistry.decodeBatch: batch holds rows but no table is " +
        "registered and it carried no FULL-metadata schema observation — " +
        "register schemas, or run the master with binlog_row_metadata=FULL")
    val planned = planSlices(ranges)
    val inSlice: Seq[(Column, Version)] = planned.map { case (db, tbl, v, untilSeq) =>
      (col("database") === db && col("table") === tbl &&
        col("stmt_seq") >= v.sinceSeq && col("stmt_seq") < untilSeq) -> v
    }
    // The predicate per distinct value of `key`, slices with that value OR'd.
    def branches[K](key: Version => K): Seq[(Column, K)] =
      inSlice.map(s => key(s._2)).distinct.map { k =>
        inSlice.collect { case (p, v) if key(v) == k => p }.reduce(_ || _) -> k
      }
    // The last branch of each CASE is its ELSE: every row left by the filter
    // below lies in some slice.
    val byCols = branches(_.cols)
    val byVersion = branches(_.version)
    val schemaVersion = byVersion.dropRight(1).foldRight(lit(byVersion.lastOption.fold(1)(_._2))) {
      case ((p, v), rest) => when(p, lit(v)).otherwise(rest)
    }
    // Schema observations are control-plane only — they registered above and
    // must not reach the envelope path (unlike alters, which DO emit an
    // envelope: the reference surfaces DDL to subscribers). Rows in no slice
    // (unregistered tables, malformed lines) are dropped by the same filter.
    val rows = cached
      .filter(col("action") =!= "schema" &&
        inSlice.map(_._1).reduceOption(_ || _).getOrElse(lit(false)))
      .drop("query")
    val out = EnvelopeBuilder.envelopesStaticCase(rows, byCols.dropRight(1),
        byCols.lastOption.fold(Seq.empty[Decode.ColMeta])(_._2))
      .withColumn("schema_version", schemaVersion)
    (out, rawRows, () => { cached.unpersist(); () })
  }

  // ------------------------------------------------------------ persistence

  /** Serialize the full version state (driver-side, control-plane scale).
    * Registry state is DERIVED from the stream (base schemas + every ALTER
    * seen), so without persistence a restart would re-register base schemas
    * only and decode post-recovery batches with pre-ALTER column order — the
    * mis-slotted-JSON failure this registry exists to prevent. Spark's
    * checkpoint does not replay COMMITTED batches, so their ALTERs must
    * survive some other way: this snapshot, written beside the pos cache
    * after each batch. Format: one URL-encoded TSV line per (table, version,
    * column) — field values round-trip arbitrary content (enum values with
    * commas/quotes included). */
  def snapshotBytes(): Array[Byte] = synchronized {
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    val sb = new StringBuilder("graft-schema-v1\n")
    tables.toSeq.sortBy(_._1).foreach { case ((db, tbl), vs) =>
      vs.foreach { v =>
        v.cols.foreach { c =>
          sb.append(Seq(enc(db), enc(tbl), v.version.toString, v.sinceSeq.toString,
            enc(c.name), enc(c.rawType), c.unsigned.toString,
            c.enumValues.map(enc).mkString(","), c.setValues.map(enc).mkString(","))
            .mkString("\t")).append('\n')
        }
      }
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Restore from [[snapshotBytes]] output: per-table REPLACE (a persisted
    * table's version vector supersedes its freshly-registered base schema;
    * tables only in the live registration survive untouched). */
  def restore(bytes: Array[Byte]): Unit = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8).split('\n')
    require(lines.headOption.contains("graft-schema-v1"),
      s"unrecognized schema snapshot header: ${lines.headOption.getOrElse("(empty)")}")
    val grouped = lines.drop(1).filter(_.nonEmpty).map(_.split('\t')).toSeq
      .map { f =>
        require(f.length >= 7, s"bad schema snapshot line: ${f.mkString("\\t")}")
        val ev = if (f.length > 7 && f(7).nonEmpty) f(7).split(',').toSeq.map(dec) else Nil
        val sv = if (f.length > 8 && f(8).nonEmpty) f(8).split(',').toSeq.map(dec) else Nil
        ((dec(f(0)), dec(f(1))), f(2).toInt, f(3).toLong,
          Decode.ColMeta(dec(f(4)), dec(f(5)), f(6).toBoolean, ev, sv))
      }
      .groupBy(_._1)
    synchronized {
      grouped.foreach { case (key, rows) =>
        val versions = rows.groupBy(r => (r._2, r._3)).toVector
          .map { case ((ver, since), cols) => Version(ver, since, cols.map(_._4)) }
          .sortBy(_.version)
        tables += key -> versions
      }
    }
  }

  /** Atomic snapshot write (tmp + move), the same durability discipline as
    * the pos cache. */
  def saveTo(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.write(tmp, snapshotBytes())
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Restore from a [[saveTo]] file if present; false when absent. */
  def loadFrom(path: String): Boolean = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) false
    else { restore(java.nio.file.Files.readAllBytes(p)); true }
  }

  /** The (table, version, untilSeq) slices whose `[sinceSeq, untilSeq)`
    * interval intersects the table's observed `[lo, hi]` range — the pruning
    * decision, kept pure for testability. */
  private[cdc] def planSlices(ranges: Map[(String, String), (Long, Long)])
      : Seq[(String, String, Version, Long)] =
    for {
      (db, tbl) <- registeredTables
      (lo, hi) <- ranges.get((db, tbl)).toSeq
      vs = versionsOf(db, tbl)
      (v, i) <- vs.zipWithIndex
      untilSeq = if (i + 1 < vs.size) vs(i + 1).sinceSeq else Long.MaxValue
      if v.sinceSeq <= hi && untilSeq > lo
    } yield (db, tbl, v, untilSeq)
}

object SchemaRegistry {

  /** One immutable schema version: live for sequences in
    * `[sinceSeq, nextVersion.sinceSeq)`. */
  final case class Version(version: Int, sinceSeq: Long, cols: Seq[Decode.ColMeta])

  /** Text codec for a FULL-metadata schema observation
    * (`binlog_row_metadata=FULL` TABLE_MAP → [[graft.source.BinlogWire.TableMap.toColMeta]])
    * riding an `action=schema` positional line's `query` field:
    * `graft-schema-v1|name,rawType,unsigned,enum;enum,set;set|…`, every
    * field URL-escaped so the separators cannot occur unescaped. */
  def encodeSchema(cols: Seq[Decode.ColMeta]): String = {
    def e(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    cols.map(c => Seq(e(c.name), e(c.rawType), c.unsigned.toString,
      c.enumValues.map(e).mkString(";"), c.setValues.map(e).mkString(";"))
      .mkString(",")).mkString("graft-schema-v1|", "|", "")
  }

  /** Inverse of [[encodeSchema]]; None for anything that is not a v1 schema
    * payload (defensive: the `query` field also carries ALTER DDL). */
  def decodeSchema(s: String): Option[Seq[Decode.ColMeta]] =
    if (s == null || !s.startsWith("graft-schema-v1|")) None
    else {
      def d(x: String) = java.net.URLDecoder.decode(x, "UTF-8")
      Some(s.stripPrefix("graft-schema-v1|").split('|').toSeq.filter(_.nonEmpty)
        .map { c =>
          val f = c.split(",", -1)
          Decode.ColMeta(d(f(0)), d(f(1)), f(2).toBoolean,
            f(3).split(';').toSeq.filter(_.nonEmpty).map(d),
            f(4).split(';').toSeq.filter(_.nonEmpty).map(d))
        })
    }

  sealed trait AlterOp
  /** `pos`: None = append (MySQL default), Some(None) = FIRST,
    * Some(Some(c)) = AFTER c. */
  final case class AddColumn(meta: Decode.ColMeta, pos: Option[Option[String]]) extends AlterOp
  final case class DropColumn(name: String) extends AlterOp
  final case class ModifyColumn(meta: Decode.ColMeta,
                                pos: Option[Option[String]] = None) extends AlterOp
  final case class ChangeColumn(oldName: String, meta: Decode.ColMeta,
                                pos: Option[Option[String]] = None) extends AlterOp

  /** Column order is POSITIONAL TRUTH: binlog row images are arrays in table
    * column order, so FIRST/AFTER placement decides which array slot a column
    * reads — getting this wrong is exactly the reference's "incorrect json"
    * failure mode. Unknown ops/columns are ignored (canal's tolerance). */
  private[cdc] def applyOp(cols: Seq[Decode.ColMeta], op: AlterOp): Seq[Decode.ColMeta] = op match {
    case AddColumn(m, pos) =>
      val without = cols.filterNot(_.name == m.name)
      pos match {
        case None             => without :+ m
        case Some(None)       => m +: without
        case Some(Some(after)) =>
          val i = without.indexWhere(_.name == after)
          if (i < 0) without :+ m
          else (without.take(i + 1) :+ m) ++ without.drop(i + 1)
      }
    case DropColumn(n)     => cols.filterNot(_.name == n)
    // MODIFY/CHANGE may ALSO carry FIRST/AFTER — MySQL moves the column, so
    // every later slot shifts; dropping the placement silently mis-slots every
    // subsequent positional decode (the "incorrect json" failure again).
    case ModifyColumn(m, pos)    => place(cols.map(c => if (c.name == m.name) m else c), m.name, pos)
    case ChangeColumn(o, m, pos) => place(cols.map(c => if (c.name == o) m else c), m.name, pos)
  }

  /** Reposition `name` per FIRST/AFTER (None = keep current slot). */
  private def place(cols: Seq[Decode.ColMeta], name: String,
                    pos: Option[Option[String]]): Seq[Decode.ColMeta] = pos match {
    case None => cols
    case Some(p) =>
      val (self, others) = cols.partition(_.name == name)
      if (self.isEmpty) cols
      else p match {
        case None => self ++ others // FIRST
        case Some(after) =>
          val i = others.indexWhere(_.name == after)
          if (i < 0) cols // unknown anchor: canal-style tolerance, keep slot
          else (others.take(i + 1) ++ self) ++ others.drop(i + 1)
      }
  }

  private val alterRe = Pattern.compile(
    """(?is)^\s*ALTER\s+TABLE\s+(?:`?[\w$]+`?\s*\.\s*)?`?[\w$]+`?\s+(.*)$""")
  private val addRe = Pattern.compile(
    """(?is)^ADD\s+(?:COLUMN\s+)?(?!(?:INDEX|KEY|CONSTRAINT|PRIMARY|UNIQUE|FULLTEXT|SPATIAL|FOREIGN|PARTITION)\b)`?([\w$]+)`?\s+(.+?)(?:\s+(FIRST)|\s+AFTER\s+`?([\w$]+)`?)?$""")
  private val dropRe = Pattern.compile("""(?is)^DROP\s+(?:COLUMN\s+)?`?([\w$]+)`?\s*$""")
  private val modifyRe = Pattern.compile(
    """(?is)^MODIFY\s+(?:COLUMN\s+)?`?([\w$]+)`?\s+(.+?)(?:\s+(FIRST)|\s+AFTER\s+`?([\w$]+)`?)?$""")
  private val changeRe = Pattern.compile(
    """(?is)^CHANGE\s+(?:COLUMN\s+)?`?([\w$]+)`?\s+`?([\w$]+)`?\s+(.+?)(?:\s+(FIRST)|\s+AFTER\s+`?([\w$]+)`?)?$""")

  /** Parse the MySQL ALTER TABLE subset that affects row-image decode:
    * ADD/DROP/MODIFY/CHANGE COLUMN, comma-separated, with FIRST/AFTER
    * placement. The same regex-over-DDL approach as canal (go-mysql parses
    * DDL with regexes before falling back to a full parser); clauses we don't
    * model (indexes, partitioning, table options) parse to nothing — they
    * don't change the row image. */
  def parseAlter(ddl: String): Seq[AlterOp] = {
    val m = alterRe.matcher(ddl)
    if (!m.matches()) return Nil
    splitClauses(m.group(1)).flatMap { clause =>
      val add = addRe.matcher(clause)
      val drop = dropRe.matcher(clause)
      val mod = modifyRe.matcher(clause)
      val chg = changeRe.matcher(clause)
      if (add.matches()) {
        val pos =
          if (add.group(3) != null) Some(None)
          else if (add.group(4) != null) Some(Some(add.group(4)))
          else None
        Some(AddColumn(colMetaOf(add.group(1), add.group(2)), pos))
      }
      else if (drop.matches()) Some(DropColumn(drop.group(1)))
      else if (mod.matches()) {
        val pos =
          if (mod.group(3) != null) Some(None)
          else if (mod.group(4) != null) Some(Some(mod.group(4)))
          else None
        Some(ModifyColumn(colMetaOf(mod.group(1), mod.group(2)), pos))
      }
      else if (chg.matches()) {
        val pos =
          if (chg.group(4) != null) Some(None)
          else if (chg.group(5) != null) Some(Some(chg.group(5)))
          else None
        Some(ChangeColumn(chg.group(1), colMetaOf(chg.group(2), chg.group(3)), pos))
      }
      else None
    }
  }

  /** Split an ALTER body on top-level commas (commas inside `enum('a','b')`
    * parens or quoted strings don't split). */
  private def splitClauses(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    var quote: Char = 0
    body.foreach { ch =>
      if (quote != 0) { cur += ch; if (ch == quote) quote = 0 }
      else ch match {
        case '\'' | '"' | '`' => quote = ch; cur += ch
        case '('  => depth += 1; cur += ch
        case ')'  => depth -= 1; cur += ch
        case ',' if depth == 0 => out += cur.result().trim; cur.clear()
        case _    => cur += ch
      }
    }
    if (cur.nonEmpty) out += cur.result().trim
    out.result().filter(_.nonEmpty)
  }

  private val enumValsRe = Pattern.compile("""(?is)^(enum|set)\s*\((.*)\)""")

  /** Build [[Decode.ColMeta]] from a MySQL column type spec: the type string
    * itself is the decode dispatch key (`Decode` switches on its prefix,
    * mirroring `util.go:61-146`'s RawType switch); `unsigned` and enum/set
    * value lists are extracted here once, at DDL time. Column-level clauses
    * after the type (NOT NULL, DEFAULT …, COMMENT …) don't affect decode. */
  def colMetaOf(name: String, typeSpec: String): Decode.ColMeta = {
    val spec = typeSpec.trim
    val lower = spec.toLowerCase
    val unsigned = lower.matches("""(?s).*\bunsigned\b.*""")
    val em = enumValsRe.matcher(spec)
    val (enumVals, setVals) =
      if (em.find()) {
        val vals = splitClauses(em.group(2)).map(_.trim.stripPrefix("'").stripSuffix("'"))
        if (em.group(1).equalsIgnoreCase("enum")) (vals, Nil) else (Nil, vals)
      } else (Nil, Nil)
    // Keep only the type token (first word + its parenthesized args) plus the
    // unsigned marker as the rawType — decode dispatches on prefix. DDL-legal
    // synonyms are normalized to the name MySQL itself reports in SHOW FULL
    // COLUMNS (what the reference's decode switch sees, `util.go:61-146`):
    // an ALTER may say NUMERIC/BOOL, but the row image decodes as
    // decimal/tinyint — without this, such columns would fall through to the
    // quoted-string branch and emit "12.50" where the reference emits 12.50.
    val typeTok = {
      val t0 = lower.takeWhile(c => !c.isWhitespace)
      val t = t0.takeWhile(_ != '(') match {
        case "numeric" | "dec" | "fixed" => "decimal" + t0.dropWhile(_ != '(')
        case "bool" | "boolean"          => "tinyint(1)"
        case "integer"                   => "int" + t0.dropWhile(_ != '(')
        case "character"                 => "char" + t0.dropWhile(_ != '(')
        case _                           => t0
      }
      if (unsigned) t + " unsigned" else t
    }
    Decode.ColMeta(name, typeTok, unsigned, enumVals, setVals)
  }
}
