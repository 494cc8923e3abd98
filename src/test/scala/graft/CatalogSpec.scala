package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface (round 19): Catalog.registerAll views must be
  * the SAME relations the Scala API returns — a user who switches
  * from the reference's "query the local database" UX to
  * `spark.sql` over these views gets the API's rows and plans. */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dir = "/root/testdata/sf0.001"
  val sdfDir = sources.SdfQueries.TestSdfDir

  test("catalog views: SQL over warehouse views equals the API, base tables registered") {
    val wh = java.nio.file.Files.createTempDirectory("graft_cat_wh").toString
    sinks.Warehouse.ingest(spark, s"$sdfDir/*.sdf", wh)
    val views = Catalog.registerAll(spark, dir, Some(wh))
    assert(views.contains(Catalog.CompoundsView) && views.contains(Catalog.ManifestView))
    assert(views.contains("documents") && views.contains("lineitem"))

    // warehouse view == API relation, row for row
    val viaSql = spark.sql(s"SELECT * FROM ${Catalog.CompoundsView}")
      .orderBy(col("cid")).collect().map(_.toString).toSeq
    val viaApi = sinks.Warehouse.compounds(spark, wh)
      .orderBy(col("cid")).collect().map(_.toString).toSeq
    assert(viaSql == viaApi && viaSql.nonEmpty)

    // a pure-SQL point lookup equals the API's pruned lookup
    val k = 34517L
    val sqlRow = spark.sql(
      s"SELECT cid FROM ${Catalog.CompoundsView} WHERE cid = $k").collect()
    val apiRow = sinks.Warehouse.lookup(spark, wh, k).select("cid").collect()
    assert(sqlRow.map(_.getLong(0)).toSeq == apiRow.map(_.getLong(0)).toSeq)

    // base corpus views answer SQL with the loader's rows
    assert(spark.sql("SELECT count(*) AS n FROM documents").head().getLong(0) ==
      Tables.documents(spark, dir).count())

    // only tables present under sfDir register (sf100-style partial
    // corpora must not fail registration)
    val tmpSf = java.nio.file.Files.createTempDirectory("graft_cat_sf").toString
    Tables.documents(spark, dir).limit(5).write.mode("overwrite")
      .parquet(s"$tmpSf/documents.parquet")
    val partial = Catalog.registerAll(spark, tmpSf)
    assert(partial.contains("documents") && !partial.contains("lineitem"))
  }

  test("state tables register when present and serve their persisted rows") {
    // produce one persisted state table, then re-register
    operators.Curation.SplitSides.table(spark, dir)
    val views = Catalog.registerAll(spark, dir)
    assert(views.contains("graft_split_sides"))
    val viaSql = spark.sql("SELECT * FROM graft_split_sides")
      .collect().map(_.toString).toSeq.sorted
    val viaApi = operators.Curation.SplitSides.table(spark, dir)
      .collect().map(_.toString).toSeq.sorted
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }
}
