package graft.cdc

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Column-level JSON fragment builders.
  *
  * The engine serializes envelopes to JSON exactly once before fan-out
  * (reference: `src/library/binlog/handler.go:81-98`, `json.Marshal`). Go's
  * `encoding/json` sorts map keys alphabetically, so the reference's observable
  * wire format has alphabetically-ordered keys — we reproduce that.
  *
  * We build JSON with explicit `concat` over pre-encoded fragments instead of
  * `to_json`: (1) the payload is dynamically typed (a MySQL row image mixes
  * numbers and strings), which a static Spark schema can't carry without
  * VariantType; (2) the byte-level output must be reproducible by the DuckDB
  * oracle — plain string concatenation is engine-independent and stays inside
  * whole-stage codegen.
  *
  * A "fragment" is a string column holding already-valid JSON: `123`,
  * `"abc"`, `null`, `18446744073709551615`.
  */
object Json {

  /** JSON string escaping for the characters that can occur in our inputs
    * (Jackson/encoding-json-compatible for `\`, `"`, `\n`, `\r`, `\t`).
    * Non-ASCII passes through raw, as both Go and Spark emit UTF-8 unescaped.
    * One native pass ([[JsonEscape]]), sharing [[escapeUtf8]] with the
    * row-image kernel ([[RowImageJson]]). */
  def escape(c: Column): Column = Bridge.column(JsonEscape(Bridge.expression(c)))

  /** [[escape]] on one value: the input itself when it holds none of the
    * five characters (the overwhelming majority of CDC strings), else the
    * escaped copy. The scan is over bytes — the five are ASCII, and an ASCII
    * byte never occurs inside a UTF-8 multi-byte sequence; the rewrite goes
    * through the decoded string, as the regex replacement it stands for did,
    * so even a malformed byte sequence renders as before. */
  def escapeUtf8(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    while (i < n && !needsEscape(s.getByte(i))) i += 1
    if (i == n) s
    else {
      val str = s.toString
      val sb = new java.lang.StringBuilder(str.length + 8)
      var j = 0
      while (j < str.length) {
        str.charAt(j) match {
          case '\\' => sb.append("\\\\")
          case '"'  => sb.append("\\\"")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case ch   => sb.append(ch)
        }
        j += 1
      }
      UTF8String.fromString(sb.toString)
    }
  }

  private def needsEscape(b: Byte): Boolean =
    b == '\\' || b == '"' || b == '\n' || b == '\r' || b == '\t'

  /** `"escaped"` — a JSON string literal fragment; SQL-NULL in → fragment `null`. */
  def str(c: Column): Column =
    when(c.isNull, lit("null")).otherwise(concat(lit("\""), escape(c), lit("\"")))

  /** A JSON number fragment from any numeric column; SQL-NULL → `null`. */
  def num(c: Column): Column =
    when(c.isNull, lit("null")).otherwise(c.cast("string"))

  /** `{"k1":v1,...}` from an ARRAY<STRUCT<k:STRING, v:STRING>> of (key, fragment)
    * entries, in array order. Callers wanting Go-`json.Marshal` order pass a
    * key-sorted array (see [[sortEntries]]). NULL array → SQL NULL. */
  def obj(entries: Column): Column =
    when(entries.isNull, lit(null).cast("string"))
      .otherwise(concat(
        lit("{"),
        concat_ws(",", transform(entries, e => concat(str(e.getField("k")), lit(":"), e.getField("v")))),
        lit("}")))

  /** Sort (k, v) entries by key — `encoding/json` marshals Go maps in sorted
    * key order, so this is what makes our bytes match the reference's. */
  def sortEntries(entries: Column): Column = array_sort(entries)

  /** One (key, fragment) entry. */
  def entry(k: Column, v: Column): Column = struct(k.as("k"), v.as("v"))
}

/** [[Json.escape]] as one expression: a byte scan that returns its input
  * untouched when nothing needs escaping, in place of a containment regex
  * plus five chained regex replacements. */
case class JsonEscape(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(input: Any): Any =
    Json.escapeUtf8(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.cdc.Json.escapeUtf8($c)")
  override protected def withNewChildInternal(newChild: Expression): JsonEscape =
    copy(child = newChild)
  override def prettyName: String = "json_escape"
}
