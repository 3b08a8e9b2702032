package graft.core

/** The engine's query DSL: which dot-path fields of which topics are
  * tracked over which trailing windows.
  *
  * Mirrors the reference DSL semantics (reference:
  * lib/dsl/DSLHandler.js:38-97 `_parseDSL`): per topic a map of
  * dot-path -> window list; invalid window strings are skipped; a field
  * with zero valid windows is dropped; retention = max(windows).
  */
final case class FieldConfig(path: String, windows: Seq[Long]) {
  require(path != null, "path required")
}

final case class TopicConfig(topic: String, fields: Seq[FieldConfig]) {
  /** Retention horizon in seconds = max window over all fields
    * (reference: lib/dsl/DSLHandler.js:91).
    */
  def retentionSeconds: Long =
    if (fields.isEmpty) 0L else fields.flatMap(_.windows).max
}

final case class Dsl(topics: Seq[TopicConfig]) {
  def topicNames: Seq[String] = topics.map(_.topic)
  def forTopic(t: String): Option[TopicConfig] = topics.find(_.topic == t)

  /** Static-config-wins merge with discovered fields (reference:
    * lib/dsl/DSLHandler.js:316-343 — discovered entries never overwrite
    * explicitly configured ones).
    */
  def mergeDiscovered(discovered: Dsl): Dsl = {
    val byTopic = topics.map(t => t.topic -> t).toMap
    val merged = discovered.topics.map { d =>
      byTopic.get(d.topic) match {
        case None => d
        case Some(statc) =>
          val staticPaths = statc.fields.map(_.path).toSet
          TopicConfig(d.topic, statc.fields ++ d.fields.filterNot(f => staticPaths(f.path)))
      }
    }
    val discoveredTopics = discovered.topics.map(_.topic).toSet
    Dsl(merged ++ topics.filterNot(t => discoveredTopics(t.topic)))
  }
}

object Dsl {

  /** Virtual per-message frequency field name (reference:
    * lib/dsl/DSLHandler.js:14 `__topic_frequency`).
    */
  val FrequencyField = "__topic_frequency"

  /** Default windows (reference: lib/dsl/DSLHandler.js:12-15). */
  val DefaultFieldWindows: Seq[String] = Seq("15m")

  /** Anomaly re-emit cooldown (reference: lib/dsl/DSLHandler.js:13). */
  val CooldownMs: Long = 120000L

  /** Minimum samples for a window's stats to be valid (reference:
    * lib/dsl/DSLHandler.js:244).
    */
  val MinSamples: Long = 3L

  /** Parse raw config `topic -> (path -> window strings)`, skipping
    * invalid windows and empty fields like the reference's `_parseDSL`
    * (lib/dsl/DSLHandler.js:69-93).
    */
  def parse(raw: Map[String, Map[String, Seq[String]]]): Dsl = {
    val topics = raw.toSeq.sortBy(_._1).flatMap { case (topic, fields) =>
      val parsedFields = fields.toSeq.sortBy(_._1).flatMap { case (path, windows) =>
        val secs = windows.flatMap(Durations.parseSeconds).distinct
        if (secs.isEmpty) None else Some(FieldConfig(path, secs))
      }
      if (parsedFields.isEmpty) None else Some(TopicConfig(topic, parsedFields))
    }
    Dsl(topics)
  }
}
