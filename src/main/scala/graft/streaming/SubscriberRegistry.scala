package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import graft.cdc.TopicFilter

/** Subscription registry (operators R2/R3): the driver-side control-plane map
  * of subscriber → topic patterns, mirroring the reference's per-connection
  * topic sets (`/root/reference/src/services/subscribe/node.go:16-53`).
  *
  * Semantics reproduced exactly:
  *  - `addTopic` trims, lowercases, and dedups patterns (`node.go:44-53`);
  *    the EVENT topic is never normalized — only subscriber patterns are;
  *  - a subscriber with no topics matches everything (F1 empty ⇒ true);
  *  - delivery predicate is `MatchFilters(topics, topic)` (`groups.go:41-51`).
  *
  * Registration is a control-plane upsert — no query replanning. The registry
  * snapshot converts to [[CdcStream.SinkConfig]]s for the fan-out.
  */
final class SubscriberRegistry {
  import SubscriberRegistry.Sub

  private val subs = new ConcurrentHashMap[String, Sub]()

  /** Register (or touch) a subscriber with no topics (= match-all). */
  def connect(subscriber: String): Unit = subs.putIfAbsent(subscriber, Sub(Vector.empty))

  /** CMD_SET_PRO: add one topic pattern (trim/lowercase/dedup). */
  def addTopic(subscriber: String, topic: String): Unit = {
    val t = topic.trim.toLowerCase
    if (t.nonEmpty)
      subs.compute(subscriber, (_, cur) => {
        val v = Option(cur).fold(Vector.empty[String])(_.topics)
        if (v.contains(t)) cur else Sub(v :+ t)
      })
  }

  def disconnect(subscriber: String): Unit = subs.remove(subscriber)

  def topicsOf(subscriber: String): Seq[String] =
    Option(subs.get(subscriber)).fold(Seq.empty[String])(_.topics)

  /** Would this subscriber receive an event with the given topic? The
    * fan-out's own predicate ([[TopicFilter.admits]]), its patterns compiled
    * once per topic set. */
  def matches(subscriber: String, eventTopic: String): Boolean =
    Option(subs.get(subscriber)).getOrElse(Sub(Vector.empty)).admits(eventTopic)

  /** Snapshot as fan-out sinks rooted under `baseDir`. */
  def asSinks(baseDir: String): Seq[CdcStream.SinkConfig] =
    subs.asScala.toSeq.sortBy(_._1).map { case (name, sub) =>
      CdcStream.SinkConfig(name, s"$baseDir/$name", sub.topics)
    }
}

object SubscriberRegistry {
  private final case class Sub(topics: Vector[String]) {
    lazy val admits: String => Boolean =
      TopicFilter.admitter(TopicFilter.normalizeTopics(topics))
  }
}
