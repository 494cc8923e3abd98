package graft

import graft.sources.{LayoutSpec, Sdf}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Spec-side REFERENCE form of the warehouse's ingest bookkeeping: the
  * manifest rows and loaded row count computed by aggregating the
  * extracted records, as the ingest did before it read them from the
  * written files' parquet footers. It runs in no production path. */
object WarehouseReference {

  /** (manifest rows ordered by filename, rows loaded) for ingesting
    * the record frame `read` (sdf, src_file, cid), which covers exactly
    * the files `todo`: per file the min/max pk and the count of the
    * NOT_NULL-filtered rows, and a row with n_compounds 0 and a null
    * span for a file that keeps none. */
  def aggregateManifest(spark: SparkSession, read: DataFrame, todo: Seq[String],
                        layout: LayoutSpec = LayoutSpec.default): (Seq[Row], Long) = {
    import spark.implicits._
    val pk = layout.columns.find(_.primaryKey).map(_.name).getOrElse(layout.columns.head.name)
    val extracted = Sdf.filterNotNull(
      read.select(Seq(col("src_file")) ++ layout.columns.map(c => Sdf.extractColumn(col("sdf"), c)): _*),
      layout)
    val stats = extracted
      .groupBy(element_at(split(col("src_file"), "/"), -1).as("filename"))
      .agg(min(col(pk)).as("lowest_cid"), max(col(pk)).as("highest_cid"),
        count(lit(1)).as("n_compounds"))
    val rows = todo.map(p => p.substring(p.lastIndexOf('/') + 1)).toDF("filename")
      .join(stats, Seq("filename"), "left")
      .na.fill(0L, Seq("n_compounds"))
      .withColumn("date_added", date_format(current_date(), "yyyy-MM-dd"))
      .select("filename", "lowest_cid", "highest_cid", "date_added", "n_compounds")
      .orderBy("filename")
      .collect().toSeq
    (rows, extracted.count())
  }
}
