package graft

import org.apache.spark.sql.SparkSession

/** SQL query surface over everything graft manages (round 19,
  * VERDICT r18 item 5).
  *
  * The reference's product is a DATABASE the user points SQL at
  * (README: "query the local database" — build_db.py produces an
  * SQLite file and the documented UX is SELECTs against it). Graft's
  * operators expose a Scala API; this object closes the UX gap by
  * registering every graft-visible table as a temp view in the
  * session catalog, so `spark.sql("SELECT ...")` is a complete query
  * surface. Views are DEFINITIONS, not copies: a query through a
  * view plans through the same Catalyst pipeline as the DataFrame
  * API — same pushed filters, same partition pruning (the
  * compounds view keeps the src_filename partition column, so the
  * manifest-span + partition-prune lookup pattern works verbatim in
  * SQL), so the 100 TB cost model is identical through either
  * surface (spec-pinned view == API on the warehouse tables).
  */
object Catalog {

  /** View names for the compounds warehouse pair. */
  val CompoundsView = "graft_compounds"
  val ManifestView = "graft_manifest"

  /** Persisted pipeline-state tables (written by the incremental
    * operators) that register when present on disk: (view name,
    * parquet path). Absent tables are skipped, not errors — state
    * exists only after its producing operator has run. */
  private def stateTables: Seq[(String, String)] = Seq(
    "graft_cluster_labels" -> operators.Curation.ClusterLabels.path,
    "graft_split_sides" -> operators.Curation.SplitSides.path,
    "graft_tfidf_state" -> operators.Curation.TfidfState.path,
    "graft_ngram_freq_state" -> operators.TextOps.NgramFreqState.path)

  /** Register the sf corpus tables (those present under `sfDir`),
    * the compounds warehouse (live table + ingest manifest) when
    * `warehouseDir` is given, and whichever persisted state tables
    * exist. Returns the registered view names. */
  def registerAll(spark: SparkSession, sfDir: String,
                  warehouseDir: Option[String] = None): Seq[String] = {
    val fsConf = spark.sparkContext.hadoopConfiguration
    def exists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(fsConf).exists(p)
    }
    val base = Tables.AllNames.filter(n => exists(s"$sfDir/$n.parquet")).map { n =>
      (if (n == "events") Tables.events(spark, sfDir)
       else Tables.table(spark, sfDir, n)).createOrReplaceTempView(n)
      n
    }
    val wh = warehouseDir.toSeq.flatMap { dir =>
      sinks.Warehouse.compounds(spark, dir).createOrReplaceTempView(CompoundsView)
      sinks.Warehouse.manifest(spark, dir).createOrReplaceTempView(ManifestView)
      Seq(CompoundsView, ManifestView)
    }
    val state = stateTables.collect { case (name, path) if exists(path) =>
      spark.read.parquet(path).createOrReplaceTempView(name)
      name
    }
    base ++ wh ++ state
  }
}
