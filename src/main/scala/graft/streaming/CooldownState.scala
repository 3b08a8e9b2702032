package graft.streaming

/** The anomaly re-emit cooldown (reference:
  * lib/dsl/DSLHandler.js:13,200-210): an anomaly is emitted iff no
  * anomaly for its (topic, path, window_sec) key was emitted in the
  * previous `cooldownMs` of event time.
  *
  * [[AnomalyPipeline]] runs [[greedyEmit]] distributed per key, seeded
  * with the last emit of the key that its state record carries across
  * triggers; the batch oracle is [[graft.operators.Cooldown.applyBatch]]
  * — CooldownStateSpec asserts the two equal on input replayed over two
  * seeded calls.
  */
object CooldownState {

  final case class AnomalyEvent(
      topic: String,
      path: String,
      window_sec: Long,
      produced_us: Long,
      value: Double,
      mean: Double,
      stddev_pop: Double,
      three_sigma: Double,
      original_message: String = null,
  )

  /** The cooldown greedy of one key: sort by event time and emit rows
    * >= `cooldownMs` past the last emitted one, starting from `last0`
    * (`Long.MinValue` = no prior emission for the key). A later call
    * seeded with the last emit of this one continues the same greedy.
    */
  def greedyEmit(
      cooldownMs: Long, last0: Long, rows: Iterator[AnomalyEvent],
  ): Array[AnomalyEvent] = {
    val sorted = rows.toArray.sortBy(e => (e.produced_us, e.value))
    var last = last0
    val out = Array.newBuilder[AnomalyEvent]
    sorted.foreach { e =>
      if (last == Long.MinValue || e.produced_us - last >= cooldownMs * 1000L) {
        last = e.produced_us
        out += e
      }
    }
    out.result()
  }
}
