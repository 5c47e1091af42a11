package graft.pipeline

import scala.collection.concurrent.TrieMap

import org.apache.spark.metrics.source.CodegenMetrics

/** In-process sink for pipeline phase wall-clocks, so the bench harness
  * can surface per-phase seconds in its JSON line instead of losing them
  * to stderr. Pipeline phases record here through `timed`; `Bench`
  * drains after each flagship run.
  */
object PhaseLog {
  private val timings = TrieMap.empty[String, Double]
  private val annotations = TrieMap.empty[String, String]

  /** Runs `f` and records its wall-clock seconds under `phase` (a later
    * run of the same phase overwrites the earlier one), and notes
    * `codegen.<phase>`: the classes Spark compiled while `f` ran, that is
    * the misses of its generated-code cache. The count is read from
    * Spark's JVM-global `CodegenMetrics` counter, so it includes every
    * compile in the JVM during `f`, other threads' and other sessions'
    * too; it is exact only when nothing else runs queries meanwhile.
    * Once a run's classes fit the cache, a repeated run notes 0.
    */
  def timed[T](phase: String)(f: => T): T = {
    val c0 = compiles
    val t0 = System.nanoTime()
    val r = f
    timings.put(phase, (System.nanoTime() - t0) / 1e9)
    note(s"codegen.$phase", (compiles - c0).toString)
    r
  }

  /** Classes compiled in this JVM so far (JVM-global). */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

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
