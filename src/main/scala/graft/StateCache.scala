package graft

import org.apache.spark.sql.SparkSession

/** The one memo for derived state: inferred schemas and bounded row
  * snapshots keyed on a table's file listing, parquet row-group
  * counts, IVF/PQ index state, and the staged oracle tables.
  *
  * For each (scope, artifact) it holds only the value built for the
  * LAST version key. A lookup under another version rebuilds and
  * replaces the value, so an A → B → A flip-flop rebuilds each time:
  * a set-of-done-versions memo would wrongly skip the rebuild of A
  * while the single staged output still holds B's data. The builder
  * is handed the superseded value, for callers that release what it
  * holds (a temp-dir index deletes its superseded posting lists).
  *
  * A scope is the JVM or one `SparkSession`; session-scoped values
  * (DataFrames, which are bound to their session) are dropped on the
  * first access after that session's context stops, so a same-JVM
  * restart never accumulates plans. Each slot builds under its own
  * lock, outside the slot map, so concurrent first callers build once
  * and a build may itself read other artifacts through the cache. */
object StateCache {
  private final class Slot {
    var version: Option[Any] = None
    var value: Any = _
  }

  private val slots = new java.util.concurrent.ConcurrentHashMap[(Option[SparkSession], Any), Slot]

  /** The JVM-wide value of `artifact` at `version`, built once. */
  def apply[V](artifact: Any, version: Any)(build: => V): V =
    lookup[V](None, artifact, version)(_ => build)

  /** [[apply]] for staging bodies run only for their side effect. */
  def stage(artifact: Any, version: Any)(body: => Unit): Unit =
    apply[Unit](artifact, version)(body)

  /** [[apply]] whose build receives the superseded value, if any. */
  def superseding[V](artifact: Any, version: Any)(build: Option[V] => V): V =
    lookup[V](None, artifact, version)(build)

  /** The value of `artifact` at `version` for `spark`'s session. */
  def session[V](spark: SparkSession, artifact: Any, version: Any)(build: => V): V =
    lookup[V](Some(spark), artifact, version)(_ => build)

  /** Drop every value in every scope. */
  def dropAll(): Unit = slots.clear()

  private def lookup[V](scope: Option[SparkSession], artifact: Any, version: Any)
                       (build: Option[V] => V): V = {
    slots.keySet.removeIf(_._1.exists(_.sparkContext.isStopped))
    val slot = slots.computeIfAbsent((scope, artifact), _ => new Slot)
    slot.synchronized {
      if (!slot.version.contains(version)) {
        val superseded = slot.version.map(_ => slot.value.asInstanceOf[V])
        // a build that throws leaves the slot empty, never serving a
        // value whose staged output it may have half overwritten
        slot.version = None
        slot.value = build(superseded)
        slot.version = Some(version)
      }
      slot.value.asInstanceOf[V]
    }
  }
}
