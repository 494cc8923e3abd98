package graft

import graft.sources.{LayoutSpec, Sdf}
import org.scalatest.funsuite.AnyFunSuite

/** Split-boundary correctness: at 100 TB an uncompressed SDF file is
  * read as MANY partitions, and `$$$$` delimiters land arbitrarily
  * relative to split boundaries. Every record must be parsed exactly
  * once regardless of where the splits fall. */
class SdfScaleSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private val NumMols = 2000

  /** ~3 MB synthetic SDF: records of varying size so boundaries hit
    * headers, data blocks, and terminators. */
  private lazy val bigSdf: String = {
    val tmp = tempDir("graft_sdf_scale")
    val f = tmp.resolve("big.sdf")
    val sb = new StringBuilder
    for (cid <- 1 to NumMols) {
      val filler = "X" * (cid % 37)
      sb.append(s"mol-$cid\n  -GRAFT-\n\n")
      sb.append(s"> <PUBCHEM_COMPOUND_CID>\n$cid\n\n")
      sb.append(s"> <PUBCHEM_IUPAC_INCHI>\nInChI=1S/TEST$cid/$filler\n\n")
      if (cid % 3 == 0) sb.append(s"> <PUBCHEM_XLOGP3>\n${cid % 10}.5\n\n")
      else if (cid % 3 == 1) sb.append(s"> <PUBCHEM_XLOGP3_AA>\n${cid % 7}.25\n\n")
      sb.append("$$$$\n")
    }
    java.nio.file.Files.writeString(f, sb.toString)
    f.toString
  }

  private val layout = LayoutSpec(Seq(
    sources.ColumnSpec("cid", Seq("PUBCHEM_COMPOUND_CID"), "integer", notNull = true, primaryKey = true),
    sources.ColumnSpec("InChI", Seq("PUBCHEM_IUPAC_INCHI"), "varchar", notNull = true),
    sources.ColumnSpec("xlogp3", Seq("PUBCHEM_XLOGP3", "PUBCHEM_XLOGP3_AA"), "real")))

  private def withTinyPartitions[A](f: => A): A = {
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(key)
    spark.conf.set(key, (64 * 1024).toString) // force ~50 splits
    try f finally spark.conf.set(key, old)
  }

  test("every record parses exactly once when the file splits into many partitions") {
    val (nParts, cids) = withTinyPartitions {
      val df = Sdf.read(spark, bigSdf)
      (df.rdd.getNumPartitions, df.select("cid").collect().map(_.getLong(0)).toSeq)
    }
    assert(nParts >= 4, s"file did not split: $nParts partitions")
    assert(cids.length == NumMols, s"${cids.length} records != $NumMols")
    assert(cids.distinct.length == NumMols, "duplicate records across split boundaries")
    assert(cids.toSet == (1 to NumMols).map(_.toLong).toSet)
  }

  test("split reads produce identical extraction to a single-partition read") {
    val split = withTinyPartitions {
      Sdf.compounds(spark, bigSdf, layout).collect().map(_.toString).sorted.toSeq
    }
    val whole = Sdf.compounds(spark, bigSdf, layout).collect().map(_.toString).sorted.toSeq
    assert(whole.length == NumMols)
    assert(split == whole)
  }

  test("warehouse lifecycle on the layout-faithful generated corpus: ingest, lookups, compaction") {
    // the spec twin of graft.SdfScaleBench (whose GB-scale runs are
    // recorded in BASELINE.md): the DEFAULT layout over a multi-file
    // synthetic corpus carrying every default-layout tag — ingest
    // with the manifest skip-set, pk lookup via manifest spans, miss
    // semantics, idempotent re-ingest, and compaction preserving
    // both rows and lookup results
    import graft.sinks.Warehouse
    val root = tempDir("sdf_lifecycle").toString
    val glob = SdfScaleBench.generate(root, nFiles = 4, molsPerFile = 1500)
    val wh = s"$root/wh"
    val res = Warehouse.ingest(spark, glob, wh)
    assert(res.filesLoaded.length == 4 && res.rowsLoaded == 6000)
    assert(Warehouse.ingest(spark, glob, wh).filesLoaded.isEmpty, "re-ingest must be a no-op")
    val hit = Warehouse.lookup(spark, wh, 3000L).collect()
    assert(hit.length == 1 && hit.head.getAs[Long]("cid") == 3000L)
    assert(hit.head.getAs[String]("InChI") != null, "layout columns extracted")
    assert(Warehouse.lookup(spark, wh, 99999L).collect().isEmpty, "miss is empty")
    Warehouse.compact(spark, wh)
    assert(spark.read.parquet(s"$wh/compounds").count() == 6000)
    val post = Warehouse.lookup(spark, wh, 3000L).collect()
    assert(post.length == 1 && post.head.getAs[Long]("cid") == 3000L)
    assert(Warehouse.ingest(spark, glob, wh).filesLoaded.isEmpty,
      "compaction must leave the manifest skip-set intact")
  }
}
