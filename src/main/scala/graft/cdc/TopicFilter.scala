package graft.cdc

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Topic filter predicate (operator F1) — the one predicate every event passes
  * through in the reference (`/root/reference/src/library/service/util.go:9-21`).
  *
  * Exact semantics reproduced:
  *  - empty filter set ⇒ match-all (`util.go:10-13`);
  *  - UNANCHORED match (`regexp.MatchString` finds a substring match —
  *    `"test"` matches `"mytest.foo"`; anchoring is the subscriber's job);
  *  - OR over the set: true if ANY filter matches (`util.go:14-19`);
  *  - a filter that fails to compile never matches (`util.go:16` treats the
  *    error as no-match).
  *
  * Unlike the reference, which recompiles every regex on every event
  * (`regexp.MatchString` compiles per call), the patterns here are compiled
  * once at plan time and referenced from generated code — strictly better,
  * and the expression participates in whole-stage codegen.
  *
  * REGEX-DIALECT COMPATIBILITY NOTE: the reference's `regexp` package is
  * Go's RE2 (linear-time, no backtracking); this expression uses
  * `java.util.regex` (backtracking). The two dialects agree on the
  * POSIX-ish core every real subscriber filter uses, but diverge at the
  * edges, and the divergence interacts with the err⇒no-match rule:
  *  - backreferences (`(a)\1`) and lookarounds (`(?=x)`, `(?<=x)`) do NOT
  *    compile in RE2 — the reference silently never matches them — while
  *    they compile AND match here. A filter set migrated from the
  *    reference can therefore start matching events it never matched
  *    before (pinned by `TopicFilterSpec`);
  *  - conversely RE2-only syntax (e.g. the longest-match flag `(?U)` as
  *    RE2 defines it) fails to compile here and never matches, where the
  *    reference honors it.
  * This is a deliberate, documented divergence, not a bug: matching RE2
  * exactly would mean shipping an RE2 port, and the compile-failure
  * fallback (never match, keep serving) is identical in both engines —
  * only WHICH patterns land in that bucket differs by dialect.
  */
case class MatchAnyRegex(child: Expression, filters: Seq[String])
    extends UnaryExpression with Predicate {

  @transient private lazy val compiled: Array[Pattern] =
    filters.flatMap(f => scala.util.Try(Pattern.compile(f)).toOption).toArray

  override def nullable: Boolean = filters.nonEmpty && child.nullable

  override def eval(input: InternalRow): Any =
    if (filters.isEmpty) true
    else {
      val v = child.eval(input)
      if (v == null) null
      else {
        val s = v.asInstanceOf[UTF8String].toString
        var i = 0
        while (i < compiled.length) {
          if (compiled(i).matcher(s).find()) return true
          i += 1
        }
        false
      }
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (filters.isEmpty) {
      // nullable=false here, so ev.isNull is the literal "false" — it must NOT
      // be re-declared as a variable.
      ev.copy(
        code = code"boolean ${ev.value} = true;",
        isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
    } else {
      val pats = ctx.addReferenceObj("patterns", compiled, "java.util.regex.Pattern[]")
      // Locals MUST be freshName'd: with a non-nullable child, nullSafeCodeGen
      // emits this fragment without an enclosing block, so two instances in one
      // codegen scope (e.g. several filter columns in one projection) would
      // redeclare fixed-named locals and fail Janino compilation — Spark then
      // silently falls back to interpreted eval.
      nullSafeCodeGen(ctx, ev, c => {
        val s = ctx.freshName("s")
        val i = ctx.freshName("i")
        s"""
        String $s = $c.toString();
        for (int $i = 0; $i < $pats.length; $i++) {
          if ($pats[$i].matcher($s).find()) { ${ev.value} = true; break; }
        }"""
      })
    }

  override protected def withNewChildInternal(newChild: Expression): MatchAnyRegex =
    copy(child = newChild)

  override def prettyName: String = "match_any_regex"
}

object TopicFilter {

  /** Predicate Column: does `topic` match any of `filters`?
    * Empty `filters` ⇒ constant true (the planner folds it away). */
  def matchAny(topic: Column, filters: Seq[String]): Column =
    if (filters.isEmpty) lit(true)
    else Bridge.column(MatchAnyRegex(Bridge.expression(topic), filters))

  /** Driver-side [[matchAny]] on a literal topic: the same [[MatchAnyRegex]]
    * evaluated once, so a count taken per topic on the driver admits exactly
    * the rows the fan-out's filter admits. */
  def admits(topic: String, filters: Seq[String]): Boolean = admitter(filters)(topic)

  /** [[admits]] with the patterns compiled once, for matching many topics
    * against one filter set. */
  def admitter(filters: Seq[String]): String => Boolean = {
    val m = MatchAnyRegex(BoundReference(0, StringType, nullable = true), filters)
    topic => m.eval(InternalRow(UTF8String.fromString(topic))) == true
  }

  /** Subscriber-side topic normalization (R3): trim + lowercase + dedup,
    * preserving first-seen order (`src/services/subscribe/node.go:44-53`).
    * Only SUBSCRIBER patterns are normalized; event topics never are. */
  def normalizeTopics(topics: Seq[String]): Seq[String] =
    topics.map(_.trim.toLowerCase).filter(_.nonEmpty).distinct
}
