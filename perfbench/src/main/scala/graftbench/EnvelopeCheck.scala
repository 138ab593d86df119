package graftbench

import java.util.BitSet

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graftbench.CdcGen.{Env, Img}

/** Checks delivered envelopes against the generator's oracle. Envelope
  * `event_index = k` (dense from 1) must be the generator's `k`-th, with
  * its values; each stream must carry exactly the envelopes its topic
  * filter admits. At-least-once duplicates are counted, not failed. */
final class EnvelopeCheck(expected: IndexedSeq[Env]) {
  private val mapper = new ObjectMapper()
  /** Envelope indices that failed on any stream. */
  val bad = new BitSet(expected.size)
  val problems = scala.collection.mutable.ArrayBuffer[String]()

  private def problem(k: Int, s: String): Unit = {
    if (k >= 0 && k < expected.size) bad.set(k)
    if (problems.size < 20) problems += s
  }

  private def imgOk(n: JsonNode, i: Img): Boolean =
    n != null && n.path("event_id").asLong(-1) == i.id && n.path("user_id").asLong(-1) == i.user &&
      n.path("event_type").asText() == i.kind && n.path("value").asDouble(Double.NaN) == i.value &&
      n.path("ts").asText() == CdcGen.tsText(i.tsUs) && n.path("props").asText() == i.props &&
      i.note.forall(v => n.path("note").asText() == v) && (i.note.nonEmpty || !n.has("note"))

  private def envOk(e: Env, n: JsonNode): Boolean = {
    val data = n.path("event").path("data")
    n.path("database").asText() == "shop" && n.path("table").asText() == s"events_${e.table}" &&
      n.path("event_type").asText() == e.action && (e.action match {
        case "alter" => !n.has("event")
        case "update" => imgOk(data.get("old_data"), e.before.get) &&
          imgOk(data.get("new_data"), e.after.get)
        case _ => imgOk(data, e.before.get)
      })
  }

  /** Check one stream's envelope lines; returns (lines, duplicates). */
  def stream(name: String, lines: Iterator[String], admits: Int => Boolean): (Long, Long) = {
    val seen = new BitSet(expected.size)
    var n = 0L; var dups = 0L
    lines.foreach { raw =>
      n += 1
      val line = raw.substring(math.max(0, raw.indexOf('{')))
      val node = try mapper.readTree(line) catch { case _: Exception => null }
      // event_index is 1-based (the reference increments before use)
      val k = if (node == null) -1L else node.path("event_index").asLong(0) - 1
      if (k < 0 || k >= expected.size) problem(-1, s"$name: bad envelope index ${k + 1}: ${line.take(200)}")
      else if (seen.get(k.toInt)) dups += 1
      else {
        seen.set(k.toInt)
        val e = expected(k.toInt)
        if (!admits(e.table)) problem(k.toInt, s"$name: envelope ${k + 1} is outside the sink's filter")
        else if (!envOk(e, node)) problem(k.toInt, s"$name: envelope ${k + 1} differs: ${line.take(300)}")
      }
    }
    var missing = 0
    expected.indices.foreach { k =>
      if (admits(expected(k).table) && !seen.get(k)) {
        missing += 1
        problem(k, s"$name: envelope ${k + 1} missing")
      }
    }
    if (missing > 0) problems += s"$name: $missing envelopes missing"
    (n, dups)
  }
}
