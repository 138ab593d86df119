package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Row-image field decode (operator O1).
  *
  * Reproduces the reference's `fieldDecode`
  * (`/root/reference/src/library/binlog/util.go:61-146`): the binlog wire gives
  * signed integers; columns declared `unsigned` must be reinterpreted by adding
  * the type's modulus, ENUM ordinals become labels, SET bitmasks become
  * comma-joined labels.
  *
  * Two paths decode the same bytes:
  *  - [[toJsonFragment]], schema-agnostic: the column metadata rides each
  *    row and the `rawType` dispatch is a per-row `CASE` of Spark built-ins
  *    (when/arithmetic/higher-order functions);
  *  - [[RowImageJson]], for a column list known at plan time (the schema
  *    registry's path, "typed projection once the schema is registered",
  *    SURVEY §1.5): a native kernel that resolves the dispatch once and
  *    renders a whole row image in one pass.
  *
  * Values arrive as strings (the fixture carrier for dynamically-typed row
  * images); the column's `rawType` decides interpretation, mirroring how the
  * reference switches on the Go runtime type that the same `rawType` produced.
  *
  * Column metadata struct (mirror of go-mysql `schema.TableColumn`,
  * `vendor/.../go-mysql/schema/schema.go:34-57`):
  * `STRUCT<name: STRING, rawType: STRING, unsigned: BOOLEAN,
  *         enumValues: ARRAY<STRING>, setValues: ARRAY<STRING>>`
  */
object Decode {

  private def shl(a: Column, b: Column): Column = call_function("shiftleft", a, b)

  /** Unsigned fix-up for the int32 carrier: MySQL MEDIUMINT and INT both arrive
    * as Go int32; the reference picks the modulus by `RawType` prefix — only a
    * type literally starting with "int" gets 2^32, anything else (mediumint)
    * gets 2^24 (`util.go:83-94`). */
  def unsignedInt32(v: Column, rawType: Column): Column =
    when(v < 0, when(rawType.startsWith("int"), v + lit(4294967296L)).otherwise(v + lit(1L << 24)))
      .otherwise(v)

  /** ENUM ordinal (1-based) → label, `EnumValues[i-1]` (`util.go:97-100`).
    * Out-of-range ordinals (incl. MySQL's empty-value 0) → NULL rather than the
    * reference's panic. */
  def enumLabel(ordinal: Column, enumValues: Column): Column =
    try_element_at(enumValues, ordinal.cast("int"))

  /** SET bitmask → comma-joined labels in definition order (`util.go:101-113`).
    * Membership tests `=!= 0`, not `> 0`: the 64th member's bit is
    * `1L << 63` = Long.MinValue, which is set-but-negative. */
  def setLabels(mask: Column, setValues: Column): Column =
    concat_ws(",",
      filter(
        transform(setValues, (s, i) => when(shl(lit(1L), i).bitwiseAND(mask) =!= 0, s)),
        x => x.isNotNull))

  /** Static column metadata, when the table schema is known at plan time
    * (the input of [[RowImageJson]]). */
  final case class ColMeta(name: String, rawType: String, unsigned: Boolean = false,
                           enumValues: Seq[String] = Nil, setValues: Seq[String] = Nil)

  /** Full decode of one positional value to a JSON fragment (see [[Json]]).
    * `value` is the raw string carrier; `meta` the column metadata struct.
    * Schema-agnostic (runtime dispatch on rawType) — use [[RowImageJson]]
    * when the schema is known at plan time. */
  def toJsonFragment(value: Column, meta: Column): Column = {
    val rawType = meta.getField("rawType")
    val uns     = meta.getField("unsigned")
    val vLong   = value.cast("long")
    when(value.isNull, lit("null"))
      .when(rawType.startsWith("enum"), Json.str(enumLabel(vLong, meta.getField("enumValues"))))
      .when(rawType.startsWith("set"), Json.str(setLabels(vLong, meta.getField("setValues"))))
      .when(rawType.startsWith("tinyint"),
        Json.num(when(uns && vLong < 0, vLong + 256L).otherwise(vLong)))
      .when(rawType.startsWith("smallint"),
        Json.num(when(uns && vLong < 0, vLong + 65536L).otherwise(vLong)))
      .when(rawType.startsWith("mediumint") || rawType.startsWith("int"),
        Json.num(when(uns, unsignedInt32(vLong, rawType)).otherwise(vLong)))
      .when(rawType.startsWith("bigint"),
        Json.num(when(uns && vLong < 0,
          (vLong.cast("decimal(20,0)") + lit(new java.math.BigDecimal("18446744073709551616")))
            .cast("decimal(20,0)"))
          .otherwise(vLong.cast("decimal(20,0)"))))
      .when(rawType.startsWith("float") || rawType.startsWith("double") ||
            rawType.startsWith("decimal"), GoFloat.num(value))
      .otherwise(Json.str(value))
  }
}
