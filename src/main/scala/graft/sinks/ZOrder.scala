package graft.sinks

import graft.{Exact, GraftQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data clustering for the warehouse: Z-ORDER
  * layout (bit-interleaved Morton curve), the publish-time twin of
  * [[Warehouse.publishBucketed]] for RANGE predicates over more than
  * one column.
  *
  * Why it exists (100 TB lens): parquet skips row groups / files
  * whose min-max stats exclude a pushed predicate — but stats only
  * prune on columns the LAYOUT clusters. A table sorted by column x
  * prunes x-ranges to O(selectivity) and prunes NOTHING on y (every
  * file's y-stats span the whole domain). Interleaving the bits of
  * the two columns' normalized ranks and range-partitioning + sorting
  * by that Morton value gives every file a bounded rectangle in
  * (x, y) space, so a box predicate on x AND y — or on either alone —
  * excludes most files by stats alone, before a byte of data is read.
  * That is the difference between scanning 100 TB and scanning the
  * ~selectivity-proportional corner of it. The same mechanism is why
  * lakehouse table formats expose OPTIMIZE ... ZORDER BY; here it is
  * five lines of Column algebra over a plain parquet directory.
  *
  * The curve is built from RANK-normalized values (min/max scaled to
  * [[Bits]]-bit integers, one bounded agg job), so skewed value
  * distributions still spread over the full grid rather than
  * collapsing onto a few Morton cells.
  */
object ZOrder {

  /** Bits per dimension: 16 gives a 65536-cell grid per axis —
    * far finer than any realistic file count, so file rectangles are
    * limited by the data volume, not the curve resolution. Two
    * dimensions fit in 32 bits of the long Morton value. */
  val Bits = 16

  /** Normalized [[Bits]]-bit rank of `c` within [lo, hi] — plain
    * double algebra, clamped so values at the max (or a degenerate
    * lo == hi range) stay in-grid. */
  private def gridRank(c: Column, lo: Column, hi: Column): Column = {
    val span = hi - lo
    val maxCell = (1L << Bits) - 1
    val scaled = when(span > 0,
      floor((c - lo) / span * maxCell)).otherwise(lit(0L))
    least(greatest(scaled.cast("long"), lit(0L)), lit(maxCell))
  }

  /** Bit-interleave two [[Bits]]-bit grid ranks into the Morton
    * value — a pure expression tree (shift/and/or), fully codegen'd;
    * no UDF in the publish path. */
  private def interleave(a: Column, b: Column): Column =
    (0 until Bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** The curve-clustered form of `df`: one bounded agg for the
    * min/max frame, one range exchange on the Morton value (range,
    * not hash: the curve is only useful if CONSECUTIVE cells land in
    * the same file), an in-partition sort. Shared by publish, append
    * and recluster so the three layouts can never drift.
    *
    * Bounds are computed from `df` ITSELF (per batch). That is a
    * deliberate choice for the append path: pruning CORRECTNESS
    * never depends on the curve — parquet footers carry the true
    * min/max of the written values whatever order they arrived in —
    * the curve only controls how TIGHT each file's rectangle is, and
    * a batch normalized over its own value range spreads across its
    * own files exactly as the base did. Persisting base bounds would
    * buy nothing and break on out-of-range appends. */
  private def zClustered(df: DataFrame, xCol: String, yCol: String,
                         files: Int): DataFrame = {
    val bounds = df.agg(
      min(col(xCol).cast("double")).as("xlo"), max(col(xCol).cast("double")).as("xhi"),
      min(col(yCol).cast("double")).as("ylo"), max(col(yCol).cast("double")).as("yhi"))
      .head()
    // Empty input (a plausible steady-state nightly slice): the
    // bounded agg returns a single all-null row. The clustered form
    // of an empty frame is the empty frame — short-circuit instead
    // of dereferencing null mins (appendZOrdered then no-ops: an
    // append write of zero rows adds no files).
    if (bounds.isNullAt(0)) return df.limit(0)
    val z = interleave(
      gridRank(col(xCol).cast("double"), lit(bounds.getDouble(0)), lit(bounds.getDouble(1))),
      gridRank(col(yCol).cast("double"), lit(bounds.getDouble(2)), lit(bounds.getDouble(3))))
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Publish `df` as parquet clustered on the Morton curve over two
    * numeric columns — O(one shuffle) over the corpus, same cost
    * class as any publish-time sort. */
  def publishZOrdered(df: DataFrame, xCol: String, yCol: String,
                      outDir: String, files: Int): Unit =
    zClustered(df, xCol, yCol, files).write.mode("overwrite").parquet(outDir)

  /** INCREMENTAL maintenance (round 17, VERDICT r16 item 4): append
    * a fresh slice to a z-ordered table WITHOUT republishing the
    * corpus. The slice is clustered among its own `files` and lands
    * as new files next to the base's — the lakehouse append regime
    * (cluster-on-write per batch, periodic OPTIMIZE): every file,
    * base or appended, still carries a tight bounded rectangle, so a
    * box predicate keeps pruning by footer stats; what degrades is
    * only the FILE COUNT (each append adds its own curve segments
    * instead of merging into the base's), restored by
    * [[reclusterZOrdered]]. Append cost is slice-sized — one bounded
    * agg + one range exchange over the slice, never the corpus. */
  def appendZOrdered(df: DataFrame, xCol: String, yCol: String,
                     outDir: String, files: Int): Unit =
    zClustered(df, xCol, yCol, files).write.mode("append").parquet(outDir)

  /** Full re-cluster of an appended-to table — the periodic
    * OPTIMIZE that folds append batches back into one global curve.
    * Corpus-sized (the same one shuffle as publish) but CRASH-SAFE
    * and recoverable: the rewrite lands in a sibling tmp dir, a
    * row-preservation gate checks it, and two renames swap it in —
    * note the swap is two renames, not one atomic move, so a reader
    * racing the instant between them sees a missing canonical dir
    * (the same brief gap Warehouse.compact inherits); recovery
    * handles crashes, not concurrent readers —
    * the [[Warehouse.compact]] directory-swap pattern (see its
    * recovery matrix; here every intermediate is derived data, so
    * recovery is simply: old present without the canonical dir →
    * restore old, anything else → discard leftovers and redo). */
  def reclusterZOrdered(spark: SparkSession, outDir: String,
                        xCol: String, yCol: String, files: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(outDir + ".zcluster_tmp")
    val old = new Path(outDir + ".zcluster_old")
    if (fs.exists(old)) {
      if (!fs.exists(dir)) require(fs.rename(old, dir),
        s"recluster: crash recovery could not restore $old -> $dir")
      else fs.delete(old, true)
    }
    fs.delete(tmp, true)
    val before = spark.read.parquet(outDir).count()
    zClustered(spark.read.parquet(outDir), xCol, yCol, files)
      .write.mode("overwrite").parquet(tmp.toString)
    val after = spark.read.parquet(tmp.toString).count()
    require(after == before,
      s"recluster: rewrite holds $after rows, source holds $before — refusing swap")
    require(fs.rename(dir, old), s"recluster: could not stage aside $dir")
    require(fs.rename(tmp, dir), s"recluster: could not swap in $tmp")
    fs.delete(old, true)
  }

  // ---- warehouse_zorder: the driver-visible box query ----

  /** Box predicate the entry (and its spec) queries: a price band
    * AND a date quarter — selective on both clustered dimensions. */
  val BoxPriceLo = 100000.0
  val BoxPriceHi = 150000.0
  val BoxDateLo = "1997-01-01"
  val BoxDateHi = "1997-06-30"

  /** Scratch dir for the published layout, under the process's stage
    * dir ([[graft.Staged.at]]) with the rest of its staged state, and
    * swept with it (SdfQueries' stale-stage sweep): keyed
    * on PID as well as the corpus dir, so two concurrent harness JVMs
    * on the same corpus (under a shared pinned stage dir) never race
    * mode("overwrite") against each other's read-back (same hazard the
    * SdfQueries StagePath comment documents). Stable within a JVM so
    * repeated invocations reuse one path instead of leaking a dir per
    * call. */
  private def zDir(dir: String): String =
    graft.Staged.at(s"graft_zorder_${ProcessHandle.current().pid()}_${Integer.toHexString(dir.hashCode)}")

  /** Publish orders z-ordered on (o_totalprice, o_orderdate) and run
    * the box aggregation over the PUBLISHED table. The values cannot
    * differ from querying the source directly (layout is
    * result-invariant — that is what the oracle checks); the LAYOUT
    * claim — a box predicate excludes most files by min-max stats on
    * both axes, where a singly-sorted layout prunes only one — is
    * pinned quantitatively by the SinksSpec footer audit. */
  def warehouseZOrder(spark: SparkSession, dir: String): DataFrame = {
    val out = zDir(dir)
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      // o_orderdate is TIMESTAMP_NTZ (parquet timestamp, not UTC-
      // adjusted); unix_micros only accepts TIMESTAMP, so cast. The
      // session-TZ shift is monotonic, which is all an ordering key
      // for the curve needs.
      .withColumn("o_orderdate_us", unix_micros(col("o_orderdate").cast("timestamp")))
    publishZOrdered(ord, "o_totalprice", "o_orderdate_us", out, files = 32)
    spark.read.parquet(out)
      .filter(col("o_totalprice").between(BoxPriceLo, BoxPriceHi) &&
        // NTZ literals against the NTZ column: no cast on the column,
        // so the predicate pushes to the scan and prunes on the
        // published stats.
        col("o_orderdate").between(
          lit(BoxDateLo).cast("timestamp_ntz"), lit(BoxDateHi).cast("timestamp_ntz")))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        Exact.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  private val warehouseZOrderSql: String = {
    import Exact.sql._
    s"""SELECT o_orderpriority, COUNT(*) AS n,
       |  ${sdsum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_totalprice BETWEEN $BoxPriceLo AND $BoxPriceHi
       |  AND o_orderdate BETWEEN TIMESTAMP '$BoxDateLo' AND TIMESTAMP '$BoxDateHi'
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("warehouse_zorder", Some(warehouseZOrderSql), warehouseZOrder))
}
