package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The one memo for derived state: inferred schemas, bounded row
  * snapshots and parquet footer statistics keyed on a table's file
  * listing, parquet row-group counts, IVF/PQ index state, and the
  * staged oracle tables.
  *
  * For each (scope, artifact) it holds only the value built for the
  * LAST version key. A lookup under another version rebuilds and
  * replaces the value, so an A → B → A flip-flop rebuilds each time:
  * a set-of-done-versions memo would wrongly skip the rebuild of A
  * while the single staged output still holds B's data. A superseded
  * value is dropped, never handed on: state that outlives it on disk
  * (the IVF index's version dirs) has its own lifecycle.
  *
  * Derived state names what it reads ([[stage]]): the cache versions
  * it on each read path's listing [[identity]], plus any non-file
  * parameter that changes it. A staged corpus table
  * ([[Staged]]) names the stagings it reads rather than their output
  * paths: its version carries the versions they were staged at, so a
  * re-stage upstream moves every downstream version with it, and one
  * call lists each source table once.
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

  /** One level of `path`'s file listing (driver metadata op); a plain
    * file lists as itself. */
  private[graft] def listing(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.globStatus(new Path(p, "*"))
    if (stats == null || stats.isEmpty) Seq(fs.getFileStatus(p))
    else stats.toSeq
  }

  /** A listing's identity (name:len:mtime per file): the version of
    * everything derived from those files. Every Spark write names its
    * part files afresh, so an overwrite moves the identity even when
    * it writes the same rows. The accepted residuals: a non-Spark
    * writer that rewrites a file in place under the same name, length
    * and mtime goes unseen, and so does a [[Staged]] output rewritten
    * by anything other than its own staging (downstream versions carry
    * the upstream's version, not its output listing). */
  private[graft] def identity(listing: Seq[FileStatus]): String =
    listing.map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")

  /** The JVM-wide value of `artifact` at `version`, built once. */
  def apply[V](artifact: Any, version: Any)(build: => V): V =
    lookup[V](None, artifact, version)(build)

  /** The value of `artifact` built by `body` once per version of the
    * files at `reads` and of `params`: each read's path and listing
    * identity, plus `params`. */
  def stage[V](spark: SparkSession, artifact: Any, reads: Seq[String], params: Any = ())
              (body: => V): V =
    lookup[V](None, artifact, versionOf(spark, reads, params))(body)

  /** The value of `artifact` at `version` for `spark`'s session. */
  def session[V](spark: SparkSession, artifact: Any, version: Any)(build: => V): V =
    lookup[V](Some(spark), artifact, version)(build)

  /** Drop every value in every scope. */
  def dropAll(): Unit = slots.clear()

  private def versionOf(spark: SparkSession, reads: Seq[String], params: Any): Any =
    (reads.map(p => p -> identity(listing(spark, p))), params)

  private def lookup[V](scope: Option[SparkSession], artifact: Any, version: Any)
                       (build: => V): V = {
    slots.keySet.removeIf(_._1.exists(_.sparkContext.isStopped))
    val slot = slots.computeIfAbsent((scope, artifact), _ => new Slot)
    slot.synchronized {
      if (!slot.version.contains(version)) {
        // a build that throws leaves the slot empty, never serving a
        // value whose staged output it may have half overwritten
        slot.version = None
        slot.value = build
        slot.version = Some(version)
      }
      slot.value.asInstanceOf[V]
    }
  }
}
