package graft.pipeline

import scala.collection.concurrent.TrieMap

/** In-process sink for pipeline phase wall-clocks, so the bench harness
  * can surface per-phase seconds in its JSON line instead of losing them
  * to stderr. Pipeline phases record here through `timed`; `Bench`
  * drains after each flagship run.
  */
object PhaseLog {
  private val timings = TrieMap.empty[String, Double]
  private val annotations = TrieMap.empty[String, String]

  /** Runs `f` and records its wall-clock seconds under `phase` (a later
    * run of the same phase overwrites the earlier one). */
  def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    timings.put(phase, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Free-form run facts (e.g. which CC kernel `auto` picked) surfaced
    * in the bench JSON's "notes" map alongside the phase seconds.
    */
  def note(key: String, value: String): Unit =
    annotations.put(key, value)

  /** Snapshot the recorded (phase → seconds) map and clear it. */
  def drain(): Map[String, Double] = {
    val snap = timings.readOnlySnapshot().toMap
    timings.clear()
    snap
  }

  def drainNotes(): Map[String, String] = {
    val snap = annotations.readOnlySnapshot().toMap
    annotations.clear()
    snap
  }
}
