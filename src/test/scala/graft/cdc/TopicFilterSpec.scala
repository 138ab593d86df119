package graft.cdc

import java.util.regex.Pattern

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** F1 semantics (FIXTURES.md §4, reference `service/util.go:9-21`), on both the
  * interpreted (`eval`) and codegen paths, plus a randomized property sweep
  * against a direct java.util.regex oracle (seeded — reproducible). */
class TopicFilterSpec extends SparkSpec {

  /** Reference semantics, transcribed: empty ⇒ true; OR over set; unanchored
    * find; a pattern that fails to compile never matches. */
  private def oracle(filters: Seq[String], topic: String): Boolean =
    filters.isEmpty || filters.exists { f =>
      scala.util.Try(Pattern.compile(f)).toOption.exists(_.matcher(topic).find())
    }

  private def viaDf(filters: Seq[String], topics: Seq[String]): Seq[Boolean] = {
    import spark.implicits._
    topics.toDF("topic")
      .select(TopicFilter.matchAny(col("topic"), filters).as("m"))
      .collect().map(_.getBoolean(0)).toSeq
  }

  test("FIXTURES §4 table") {
    val cases = Seq(
      (Nil, "anything", true),                      // empty ⇒ match-all
      (Seq("test.*"), "test.city", true),
      (Seq("test.*"), "mytest.city", true),         // UNANCHORED substring match
      (Seq("^test\\..*$"), "mytest.city", false),   // anchoring is subscriber's job
      (Seq("a.b", "test.*"), "test.x", true),       // OR over the set
      (Seq("["), "anything", false),                // invalid regex never matches
      (Seq("[", "any"), "anything", true))          // invalid dropped, rest still works
    cases.foreach { case (fs, t, want) =>
      assert(oracle(fs, t) === want, s"oracle self-check $fs $t")
      assert(viaDf(fs, Seq(t)) === Seq(want), s"matchAny($fs, $t)")
      assert(TopicFilter.admits(t, fs) === want, s"admits($t, $fs)")
    }
  }

  test("subscriber topic normalization: trim + lowercase + dedup (node.go:44-53)") {
    assert(TopicFilter.normalizeTopics(Seq(" Test.* ", "test.*", "A.B", "")) ===
      Seq("test.*", "a.b"))
  }

  test("regex-dialect divergence from the reference's RE2 is pinned: " +
    "backreferences and lookarounds compile and MATCH here (RE2 would " +
    "treat them as compile failures ⇒ never-match)") {
    // These patterns do not compile in Go's regexp (RE2), so the reference
    // silently never matches them. java.util.regex compiles them, so a
    // filter set migrated verbatim can START matching — the documented,
    // deliberate divergence (see MatchAnyRegex scaladoc). Pin the chosen
    // behavior so a regression to either side is loud.
    assert(viaDf(Seq("""(foo)\1"""), Seq("xfoofoox", "foo")) ===
      Seq(true, false), "backreference matches via java.util.regex")
    assert(viaDf(Seq("""foo(?=bar)"""), Seq("foobar", "foobaz")) ===
      Seq(true, false), "lookahead matches via java.util.regex")
    assert(viaDf(Seq("""(?<=db\.)orders"""), Seq("db.orders", "xorders")) ===
      Seq(true, false), "lookbehind matches via java.util.regex")
    // and a genuinely-invalid-in-both pattern still lands in the shared
    // err ⇒ no-match bucket
    assert(viaDf(Seq("""(?P<"""), Seq("anything")) === Seq(false))
  }

  test("property: matchAny agrees with java.util.regex oracle (through codegen)") {
    val rnd = new scala.util.Random(42)
    val patChars = "abct._*[]^$\\".toCharArray
    val topChars = "abct._".toCharArray
    def randStr(chars: Array[Char], n: Int): String =
      Array.fill(n)(chars(rnd.nextInt(chars.length))).mkString
    (1 to 25).foreach { round =>
      val filters = Seq.fill(rnd.nextInt(4))(randStr(patChars, 1 + rnd.nextInt(5)))
      val topics = Seq.fill(30)(randStr(topChars, 3 + rnd.nextInt(8)))
      val got = viaDf(filters, topics)
      val want = topics.map(t => oracle(filters, t))
      assert(got === want, s"round $round filters=$filters")
      assert(topics.map(TopicFilter.admitter(filters)) === want,
        s"driver-side admits, round $round filters=$filters")
    }
  }
}
