package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

// Top-level: Dataset encoders cannot instantiate inner (outer-scoped) case classes.
case class DecMeta(name: String, rawType: String, unsigned: Boolean,
                   enumValues: Seq[String], setValues: Seq[String])

/** fieldDecode parity cases from FIXTURES.md §3
  * (reference `/root/reference/src/library/binlog/util.go:61-146`). */
class DecodeSpec extends SparkSpec {
  private type Meta = DecMeta
  private val Meta = DecMeta

  private def decode(value: String, m: Meta): String = {
    import spark.implicits._
    val df = Seq((value, m)).toDF("v", "meta")
    df.select(Decode.toJsonFragment(col("v"), col("meta")).as("r")).collect()(0).getString(0)
  }

  private def m(rawType: String, unsigned: Boolean = false,
                enum: Seq[String] = Nil, set: Seq[String] = Nil): Meta =
    Meta("c", rawType, unsigned, enum, set)

  test("tinyint unsigned: -1 -> 255") {
    assert(decode("-1", m("tinyint(3) unsigned", unsigned = true)) === "255")
  }
  test("smallint unsigned: -1 -> 65535") {
    assert(decode("-1", m("smallint(5) unsigned", unsigned = true)) === "65535")
  }
  test("mediumint unsigned: -1 -> 16777215 (rawType not prefixed 'int')") {
    assert(decode("-1", m("mediumint(8) unsigned", unsigned = true)) === "16777215")
  }
  test("int unsigned: -1 -> 4294967295 (rawType prefixed 'int')") {
    assert(decode("-1", m("int(10) unsigned", unsigned = true)) === "4294967295")
  }
  test("bigint unsigned: -1 -> 18446744073709551615") {
    assert(decode("-1", m("bigint(20) unsigned", unsigned = true)) === "18446744073709551615")
  }
  test("signed ints pass through unchanged") {
    assert(decode("7", m("int(11)")) === "7")
    assert(decode("-7", m("tinyint(3)")) === "-7")
    assert(decode("-123456789012", m("bigint(20)")) === "-123456789012")
  }
  test("unsigned but non-negative passes through") {
    assert(decode("200", m("tinyint(3) unsigned", unsigned = true)) === "200")
  }
  test("enum ordinal is 1-based: 2 -> second label") {
    assert(decode("2", m("enum('a','b','c')", enum = Seq("a", "b", "c"))) === "\"b\"")
  }
  test("set bitmask 5 -> 'x,z' (bits 0 and 2)") {
    assert(decode("5", m("set('x','y','z')", set = Seq("x", "y", "z"))) === "\"x,z\"")
  }
  test("set bitmask 0 -> empty string") {
    assert(decode("0", m("set('x','y','z')", set = Seq("x", "y", "z"))) === "\"\"")
  }
  test("string passthrough is a quoted JSON fragment with escaping") {
    assert(decode("he\"llo\\x", m("varchar(32)")) === "\"he\\\"llo\\\\x\"")
  }
  test("NULL (short-row padding) -> JSON null") {
    assert(decode(null, m("varchar(32)")) === "null")
  }
  test("set with 64 members: the 64th bit (1L<<63) is a set member, not a sign bit") {
    val labels = (1 to 64).map(i => s"m$i")
    // mask with ONLY bit 63 set = Long.MinValue as signed
    assert(decode(Long.MinValue.toString,
      m(s"set(${labels.map("'" + _ + "'").mkString(",")})", set = labels)) === "\"m64\"")
  }

  // decimal/float/double render as Go encoding/json float64 (the reference's
  // wire bytes: go-mysql float64 + json.Marshal) — golden table across every
  // notation regime
  test("decimal/double: Go json rendering, not Java Double.toString") {
    val cases = Seq(
      "0"            -> "0",
      "123.00"       -> "123",          // integral: no forced .0
      "-42.0"        -> "-42",
      "12.50"        -> "12.5",
      "0.002"        -> "0.002",
      "0.0001"       -> "0.0001",       // Java 1.0E-4; Go plain until 1e-6
      "0.000001"     -> "0.000001",     // exactly 1e-6: still plain
      "10000000"     -> "10000000",     // Java 1.0E7; Go plain until 1e21
      "12345678.9"   -> "12345678.9",
      "1e20"         -> "100000000000000000000",
      "1e21"         -> "1e+21",        // Go 'e': lowercase, 2-digit exponent
      "1.25e22"      -> "1.25e+22",
      "1e23"         -> "1e+23",
      "9.9e-7"       -> "9.9e-7",       // negative exponent: zero-stripped
      "1e-7"         -> "1e-7",
      "1e-10"        -> "1e-10",
      "-0.0"         -> "-0")           // Go marshals float64 -0 as -0
    cases.foreach { case (in, want) =>
      assert(decode(in, m("decimal(30,10)")) === want, s"decimal carrier $in")
    }
    // the plan-time row-image kernel must agree, interpreted and generated
    import spark.implicits._
    val df = cases.map(_._1).toDF("v")
    Seq(df, df.repartition(2)).foreach { in =>
      val got = in.select(col("v"),
          RowImageJson(array(col("v")), Seq(Decode.ColMeta("c", "double"))).as("r"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      cases.foreach { case (v, want) =>
        assert(got(v) === s"""{"c":$want}""", s"kernel, double carrier $v")
      }
    }
  }

  test("GoFloat.format: exact-halfway ties break to EVEN like Go/Ryu, not HALF_UP") {
    // Doubles whose exact decimal expansion terminates exactly one digit past
    // the minimal precision with a trailing 5: both minimal-length roundings
    // round-trip, and Go's shortest-digit conversion picks the EVEN last
    // digit. Golden strings independently computed with a ties-to-even
    // shortest renderer (CPython repr — David Gay mode 0, the same contract
    // as Go strconv). A HALF_UP-only search renders e.g. 827425.2114257813.
    val goldens = Seq(
      0x412940426c400000L -> "827425.2114257812",  // down is even
      0x4098b48510000000L -> "1581.1299438476562",
      0x41210aff35400000L -> "558463.6040039062",
      0x40f996e99b000000L -> "104814.60034179688", // up is even
      0x4102bff735800000L -> "153598.90112304688",
      0x412a14dd83400000L -> "854638.7563476562",
      0x410aeb92d7800000L -> "220530.35522460938",
      0x412988f27b400000L -> "836729.2407226562")
    goldens.foreach { case (bits, want) =>
      val d = java.lang.Double.longBitsToDouble(bits)
      assert(GoFloat.format(d) === want, s"tie case ${d}")
      assert(java.lang.Double.parseDouble(GoFloat.format(d)) === d)
    }
  }

  test("GoFloat.format: seeded sweep — exact round-trip, valid JSON number shape") {
    val rnd = new scala.util.Random(0x60F10A7L)
    val shapes = "-?\\d+(\\.\\d+)?(e[+-]\\d+)?"
    var checked = 0
    (1 to 30000).foreach { _ =>
      // half raw bit patterns (extreme exponents), half human-scale values
      val d =
        if (rnd.nextBoolean()) java.lang.Double.longBitsToDouble(rnd.nextLong())
        else (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(25) - 8)
      if (!d.isNaN && !d.isInfinite) {
        checked += 1
        val s = GoFloat.format(d)
        assert(s.matches(shapes), s"not a Go json number shape: $d -> $s")
        assert(java.lang.Double.doubleToLongBits(java.lang.Double.parseDouble(s)) ===
          java.lang.Double.doubleToLongBits(d), s"round-trip broke: $d -> $s")
      }
    }
    assert(checked > 25000)
  }
}
