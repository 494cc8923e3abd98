package graft

import graft.sources.{ColumnSpec, LayoutSpec, Sdf, Tabular, Transform}
import org.scalatest.funsuite.AnyFunSuite

/** The layout engine must behave identically whether fields arrive
  * as SDF tag blocks, csv columns, or json keys. */
class TabularSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  val sdfDir = sources.SdfQueries.TestSdfDir

  val layout = LayoutSpec(Seq(
    ColumnSpec("cid", Seq("PUBCHEM_COMPOUND_CID"), "integer", notNull = true, primaryKey = true),
    ColumnSpec("inchikey", Seq("PUBCHEM_IUPAC_INCHIKEY"), "varchar", notNull = true),
    ColumnSpec("inchikey_1", Seq("PUBCHEM_IUPAC_INCHIKEY"), "varchar",
      notNull = true, createLike = Some(Transform.SplitFirst("-"))),
    ColumnSpec("xlogp3", Seq("PUBCHEM_XLOGP3", "PUBCHEM_XLOGP3_AA"), "real")))

  /** Round-trip the reference SDF records through csv and json and
    * re-extract — results must equal the direct SDF pipeline. */
  test("csv and json sources produce exactly the SDF pipeline result") {
    val tmp = tempDir("graft_tabular").toString
    // export raw tag values (csv/json field name = SD tag name)
    val raw = Sdf.read(spark, s"$sdfDir/*.sdf")
    val asTags = raw.select(
      Sdf.tagValue(org.apache.spark.sql.functions.col("sdf"), "PUBCHEM_COMPOUND_CID").as("PUBCHEM_COMPOUND_CID"),
      Sdf.tagValue(org.apache.spark.sql.functions.col("sdf"), "PUBCHEM_IUPAC_INCHIKEY").as("PUBCHEM_IUPAC_INCHIKEY"),
      Sdf.tagValue(org.apache.spark.sql.functions.col("sdf"), "PUBCHEM_XLOGP3").as("PUBCHEM_XLOGP3"),
      Sdf.tagValue(org.apache.spark.sql.functions.col("sdf"), "PUBCHEM_XLOGP3_AA").as("PUBCHEM_XLOGP3_AA"))
    asTags.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    asTags.write.mode("overwrite").json(s"$tmp/json")
    asTags.write.mode("overwrite").orc(s"$tmp/orc")

    val direct = Sdf.compounds(spark, s"$sdfDir/*.sdf", layout)
      .collect().map(_.toString).sorted.toSeq
    val viaCsv = Tabular.fromCsv(spark, s"$tmp/csv", layout)
      .collect().map(_.toString).sorted.toSeq
    val viaJson = Tabular.fromJson(spark, s"$tmp/json", layout)
      .collect().map(_.toString).sorted.toSeq
    val viaOrc = Tabular.fromOrc(spark, s"$tmp/orc", layout)
      .collect().map(_.toString).sorted.toSeq
    assert(direct.nonEmpty && direct.length == 8)
    assert(viaCsv == direct)
    assert(viaJson == direct)
    assert(viaOrc == direct)
  }

  test("csv_extract / json_extract driver entries equal the SDF compounds pipeline") {
    import org.apache.spark.sql.functions.col
    // the entries ingest the staged raw-tag export under the FULL
    // default layout — their rows must equal the direct SDF pipeline
    val direct = Sdf.compounds(spark, s"$sdfDir/*.sdf")
      .orderBy(col("cid").asc_nulls_last).collect().map(_.toString).toSeq
    val csv = SparkEntry.queries("csv_extract")(spark, "unused")
      .collect().map(_.toString).toSeq
    val json = SparkEntry.queries("json_extract")(spark, "unused")
      .collect().map(_.toString).toSeq
    assert(direct.nonEmpty)
    assert(csv == direct, "csv entry diverged from the SDF pipeline")
    assert(json == direct, "json entry diverged from the SDF pipeline")
  }

  test("missing source columns fall through the tag priority list") {
    import spark.implicits._
    // only the _AA variant exists in this source → it fills xlogp3
    val df = Seq(("1", "ABC-DEF-G", "2.5")).toDF(
      "PUBCHEM_COMPOUND_CID", "PUBCHEM_IUPAC_INCHIKEY", "PUBCHEM_XLOGP3_AA")
    val out = Tabular.extract(df, layout).collect()(0)
    assert(out.getLong(0) == 1L)
    assert(out.getString(2) == "ABC")
    assert(out.getDouble(3) == 2.5)
  }
}
