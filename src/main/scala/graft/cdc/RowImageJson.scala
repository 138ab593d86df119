package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, ElementAt, EvalMode, Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Renders one positional row image (`ARRAY<STRING>`, table column order) to
  * its data-JSON object `{"k":v,…}` for a column list known at plan time —
  * the reference's per-field decode (`util.go:61-146`) and its map marshal
  * (`handler.go:113-184`) in one pass.
  *
  * Built once per expression: the keys are sorted by UTF-8 bytes (Go's
  * `json.Marshal` order, and the dynamic path's `array_sort` order — not
  * Scala's UTF-16 order, which differs for supplementary-plane names),
  * escaped and encoded; each column's `rawType` dispatch is resolved to one
  * [[RowImageRenderer.Field]]. Rendering an image is then one loop over the
  * columns appending bytes.
  *
  * Byte parity with the dynamic path ([[EnvelopeBuilder.fromPositional]] →
  * [[Decode.toJsonFragment]] → [[Json.obj]]):
  *  - string→long and string→double go through Spark's own [[Cast]] in the
  *    eval mode of the session that planned the query, so a malformed value
  *    fails (ANSI) or decodes as `null` (legacy) exactly as the cast does;
  *  - an ENUM label is Spark's `try_element_at(labels, cast(ordinal as int))`
  *    ([[ElementAt]] without failOnError): 1-based, negative ordinals count
  *    from the end, out of range is `null`, 0 is the index-zero error
  *    (`Int.MinValue`, which slips past element_at's range check and reads
  *    outside the array, is out of range);
  *  - a SET mask tests `(1L << i) & mask != 0` per label, so bit 63 is a
  *    member, and a `null` mask renders `""` like `concat_ws` over nothing;
  *  - unsigned integers add the type's modulus to negative carriers; an
  *    unsigned BIGINT renders as the `decimal(20,0)` it used to be cast to;
  *  - FLOAT/DOUBLE/DECIMAL render with [[GoFloat.format]];
  *  - strings (and keys) get the five-character [[Json.escapeUtf8]];
  *  - a missing position (short row), a `null` element and a `null` image
  *    all give `null` values.
  *
  * The renderer is serializable; each task deserializes its own copy, and a
  * render call keeps no state between values. */
final class RowImageRenderer(cols: Seq[Decode.ColMeta], evalMode: EvalMode.Value)
    extends Serializable {
  import RowImageRenderer._

  private val sorted: Array[(Decode.ColMeta, Int)] =
    cols.zipWithIndex.sortBy(_._1.name)(utf8Order).toArray

  /** `{"name":` for the first column, `,"name":` for the rest. */
  private val keys: Array[Array[Byte]] = sorted.zipWithIndex.map { case ((m, _), k) =>
    ((if (k == 0) "{\"" else ",\"") +
      Json.escapeUtf8(UTF8String.fromString(m.name)).toString + "\":").getBytes(UTF_8)
  }

  private val positions: Array[Int] = sorted.map(_._2)

  private val fields: Array[Field] = sorted.map { case (m, _) => field(m, evalMode) }

  def render(row: ArrayData): UTF8String = {
    if (keys.isEmpty) return EmptyObject
    val out = new java.io.ByteArrayOutputStream(32 * keys.length)
    var k = 0
    while (k < keys.length) {
      out.write(keys(k))
      val p = positions(k)
      if (row == null || p >= row.numElements() || row.isNullAt(p)) out.write(Null)
      else fields(k).write(row.getUTF8String(p), out)
      k += 1
    }
    out.write('}')
    UTF8String.fromBytes(out.toByteArray)
  }
}

object RowImageRenderer {

  private val Null = "null".getBytes(UTF_8)
  private val EmptyObject = UTF8String.fromString("{}")

  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
  }

  /** One column's decode, chosen from its `rawType` when the renderer is
    * built. `v` is never null. */
  sealed trait Field extends Serializable {
    def write(v: UTF8String, out: java.io.OutputStream): Unit
  }

  private def one(v: Any): InternalRow = new GenericInternalRow(Array[Any](v))

  /** Spark's own cast of the string value (bound at ordinal 0) to `to`. */
  private def parse(to: DataType, mode: EvalMode.Value): Expression =
    Cast(BoundReference(0, StringType, true), to, None, mode)

  private def writeStr(s: UTF8String, out: java.io.OutputStream): Unit = {
    out.write('"'); Json.escapeUtf8(s).writeTo(out); out.write('"')
  }

  private def writeAscii(s: String, out: java.io.OutputStream): Unit = {
    var i = 0
    while (i < s.length) { out.write(s.charAt(i)); i += 1 }
  }

  private final class StringField extends Field {
    def write(v: UTF8String, out: java.io.OutputStream): Unit = writeStr(v, out)
  }

  /** Integer carriers: `modulus` is added to negative values of an unsigned
    * column (0 for signed); `unsigned64` renders BIGINT UNSIGNED. */
  private final class IntField(modulus: Long, unsigned64: Boolean, mode: EvalMode.Value)
      extends Field {
    @transient private lazy val toLong = parse(LongType, mode)
    def write(v: UTF8String, out: java.io.OutputStream): Unit = toLong.eval(one(v)) match {
      case null => out.write(Null)
      case l: java.lang.Long =>
        val x = l.longValue
        writeAscii(
          if (unsigned64) java.lang.Long.toUnsignedString(x)
          else java.lang.Long.toString(if (x < 0) x + modulus else x), out)
    }
  }

  private final class FloatField(mode: EvalMode.Value) extends Field {
    @transient private lazy val toDouble = parse(DoubleType, mode)
    def write(v: UTF8String, out: java.io.OutputStream): Unit = toDouble.eval(one(v)) match {
      case null => out.write(Null)
      case d: java.lang.Double => writeAscii(GoFloat.format(d.doubleValue), out)
    }
  }

  private final class EnumField(labels: Seq[String], mode: EvalMode.Value) extends Field {
    @transient private lazy val ordinal = Cast(parse(LongType, mode), IntegerType, None, mode)
    @transient private lazy val label = ElementAt(
      Literal.create(new GenericArrayData(labels.map(UTF8String.fromString).toArray[Any]),
        ArrayType(StringType, containsNull = false)),
      BoundReference(0, IntegerType, true), None, failOnError = false)
    def write(v: UTF8String, out: java.io.OutputStream): Unit = ordinal.eval(one(v)) match {
      // Int.MinValue (a legacy cast's wrap of 2^31) has no absolute value, so
      // element_at's range check passes it and its read lands outside the
      // array (interpreted: an index error; generated code over an unsafe
      // array: a read of foreign memory). It is out of range here, like
      // every other too-large ordinal.
      case null | Int.MinValue => out.write(Null)
      case i => label.eval(one(i)) match {
        case null => out.write(Null)
        case s: UTF8String => writeStr(s, out)
      }
    }
  }

  private final class SetField(labels: Seq[String], mode: EvalMode.Value) extends Field {
    private val encoded: Array[Array[Byte]] = labels.map(_.getBytes(UTF_8)).toArray
    @transient private lazy val toLong = parse(LongType, mode)
    def write(v: UTF8String, out: java.io.OutputStream): Unit = {
      val mask = toLong.eval(one(v))
      val sb = new java.io.ByteArrayOutputStream()
      if (mask != null) {
        val m = mask.asInstanceOf[java.lang.Long].longValue
        var i = 0
        var first = true
        while (i < encoded.length) {
          // Java shifts a long by i & 63, as Spark's shiftleft does
          if (((1L << i) & m) != 0) {
            if (!first) sb.write(',')
            sb.write(encoded(i))
            first = false
          }
          i += 1
        }
      }
      writeStr(UTF8String.fromBytes(sb.toByteArray), out)
    }
  }

  /** The `rawType` prefix dispatch of `util.go:61-146`: an `int…` prefix
    * gets 2^32, `mediumint` 2^24 (`util.go:83-94`). */
  private def field(m: Decode.ColMeta, mode: EvalMode.Value): Field = {
    val t = m.rawType
    def int(modulus: Long) = new IntField(if (m.unsigned) modulus else 0L, unsigned64 = false, mode)
    if (t.startsWith("enum")) new EnumField(m.enumValues, mode)
    else if (t.startsWith("set")) new SetField(m.setValues, mode)
    else if (t.startsWith("tinyint")) int(256L)
    else if (t.startsWith("smallint")) int(65536L)
    else if (t.startsWith("int")) int(4294967296L)
    else if (t.startsWith("mediumint")) int(1L << 24)
    else if (t.startsWith("bigint")) new IntField(0L, unsigned64 = m.unsigned, mode)
    else if (t.startsWith("float") || t.startsWith("double") || t.startsWith("decimal"))
      new FloatField(mode)
    else new StringField
  }
}

/** Catalyst expression over a positional image: `row` is `ARRAY<STRING>`
  * (a `null` image renders every value as `null`), the result a non-null
  * JSON object. Its generated code is one call into the renderer, passed by
  * reference, so the code's size and text do not depend on the column list.
  * `evalMode` is the casts' mode, taken from the planning session. */
case class RowImageJson(child: Expression, cols: Seq[Decode.ColMeta],
                        evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends UnaryExpression {

  @transient private lazy val renderer = new RowImageRenderer(cols, evalMode)

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    renderer.render(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("rowImage", renderer, classOf[RowImageRenderer].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.unsafe.types.UTF8String ${ev.value} =
        $r.render(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): RowImageJson =
    copy(child = newChild)

  override def prettyName: String = "row_image_json"
}

object RowImageJson {
  /** The Column form: `row` an `ARRAY<STRING>` image, `cols` its columns. */
  def apply(row: Column, cols: Seq[Decode.ColMeta]): Column =
    Bridge.column(RowImageJson(Bridge.expression(row), cols))
}
