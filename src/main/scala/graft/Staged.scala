package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One staged table derived from a corpus dir, declared once: its file
  * under the stage dir (where the DuckDB oracle SQL reads it), the
  * corpus tables it reads (`sources`), the stagings it reads
  * (`upstream`), and the `build` that writes it.
  *
  * Its version is the listing identity of its sources plus the versions
  * its upstream stagings were staged at. `upstream` is a function of the
  * call because a routed staging picks its input per call (the cluster
  * signal reads the ngram or the minhash pair list); an upstream's version
  * starts with its file name, so a reroute moves the version too. Nothing
  * re-lists an upstream's output to version a downstream: one [[ensure]]
  * lists each source path once, however deep the tree. [[StateCache]]
  * holds the version last staged at each file. */
final class Staged private (val file: String, sources: Seq[String],
                            upstream: Staged.Call => Seq[Staged])(build: Staged.Call => Unit) {
  val path: String = Staged.at(file)

  /** Stage this table for the corpus at `dir`, upstreams first, unless
    * its version is the one last staged. */
  def ensure(spark: SparkSession, dir: String): Unit = versionIn(new Staged.Call(spark, dir))

  /** The staged table for the corpus at `dir`, staged first if needed. */
  def table(spark: SparkSession, dir: String): DataFrame = {
    ensure(spark, dir)
    Tables.parquetCached(spark, path)
  }

  private def versionIn(call: Staged.Call): Any = call.versions.getOrElseUpdate(this, {
    val version = (file, sources.map(call.source), upstream(call).map(_.versionIn(call)))
    StateCache(path, version)(build(call))
    version
  })
}

object Staged {
  def apply(file: String, sources: Seq[String] = Seq("documents"),
            upstream: Call => Seq[Staged] = _ => Nil)(build: Call => Unit): Staged =
    new Staged(file, sources, upstream)(build)

  /** Where the staged file `file` lives: next to the staged SDF records,
    * under the process's stage dir. */
  def at(file: String): String = graft.sources.SdfQueries.StageDir + file

  /** One [[Staged.ensure]] over the corpus at `dir`: each source table is
    * listed once and each staging versioned once, however many stagings
    * read them. */
  final class Call private[graft] (val spark: SparkSession, val dir: String) {
    private[Staged] val versions = scala.collection.mutable.Map.empty[Staged, Any]
    private val identities = scala.collection.mutable.Map.empty[String, String]

    /** Table `name` of `dir`: its path and listing identity. */
    def source(name: String): String = identities.getOrElseUpdate(name, {
      val p = Tables.path(dir, name)
      s"$p=${StateCache.identity(StateCache.listing(spark, p))}"
    })

    lazy val docs: DataFrame = Tables.documents(spark, dir)

    /** An upstream staging's table, staged earlier in this call. */
    def read(s: Staged): DataFrame = Tables.parquetCached(spark, s.path)
  }
}
