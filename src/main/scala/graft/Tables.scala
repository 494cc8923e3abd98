package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (see TESTDATA.md).
  *
  * All operators take an `sfDir` so the same code runs at any scale
  * factor — or, on a real cluster, against a warehouse path holding
  * 100 TB of the same schema. Reads are plain parquet scans so
  * Catalyst pushes filters/projections down to the file source.
  */
object Tables {
  /** One level of the path's file listing (driver metadata op). */
  private def listDir(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.globStatus(new org.apache.hadoop.fs.Path(p, "*"))
    if (stats == null || stats.isEmpty) Seq(fs.getFileStatus(p))
    else stats.toSeq
  }

  /** The listing's identity (name:len:mtime per file): the version key
    * of everything derived from the table's files, here and in
    * [[fingerprint]]. */
  private def listingKey(listing: Seq[org.apache.hadoop.fs.FileStatus]): String =
    listing.map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")

  /** A listing with `key=value` subdirectories: a partitioned table. */
  private def partitioned(listing: Seq[org.apache.hadoop.fs.FileStatus]): Boolean =
    listing.exists(s => s.isDirectory && s.getPath.getName.contains("="))

  /** `spark.read.parquet(path)` with the inferred schema held in
    * [[StateCache]] under the path's listing key. Spark runs a
    * one-task JOB per `spark.read.parquet` to read footers for schema
    * inference; at bench scale that job plus its scheduling gap
    * (~25 ms) is re-paid on EVERY entry invocation for EVERY table it
    * touches — measured 10 such jobs inside one warehouse_sql run
    * (r20 profile). The schema is table METADATA (what a metastore
    * would serve), not data or results: the scan itself still reads
    * the parquet files on every run, and a regenerated file changes
    * the listing key, so a stale schema can never be served.
    *
    * For UNPARTITIONED paths only — a partitioned table's inferred
    * schema carries partition-column type inference that must stay
    * live. That contract is enforced at runtime, not just by this
    * comment (ADVICE r20): a listing containing `key=value`
    * subdirectories bypasses the cache entirely, so a future call
    * site on a partitioned dir gets live inference instead of a
    * silently pinned partition-column type (directory entries also
    * carry len 0 and unreliable mtimes, which would poison the key).
    * Known residual accepted: a NON-Spark writer replacing a file
    * in-place with the same name+length within mtime granularity
    * could serve a stale schema — all writers here are Spark (new
    * part-UUID filenames per write), so the listing key always
    * moves. */
  def parquetCached(spark: SparkSession, path: String): DataFrame =
    listedRead(spark, path, listDir(spark, path))

  /** The rows of `columns` in the unpartitioned table at `path`,
    * collected to the driver once per listing key, or None when the
    * table holds more than `max` rows (the caller then stays on a
    * distributed plan). One `limit(max + 1)` collect decides both, so
    * a table past the bound costs one bounded job per listing key, not
    * a count plus a collect. A cache hit costs the listing and nothing
    * else (no relation is resolved). Partitioned paths bypass the cache
    * as in [[parquetCached]] and collect on every call. */
  def collectCached(spark: SparkSession, path: String, columns: Seq[String],
                    max: Int): Option[IndexedSeq[org.apache.spark.sql.Row]] = {
    val listing = listDir(spark, path)
    def bounded() = {
      val rows = listedRead(spark, path, listing)
        .select(columns.map(org.apache.spark.sql.functions.col): _*)
        .limit(max + 1).collect()
      if (rows.length > max) None else Some(rows.toIndexedSeq)
    }
    if (partitioned(listing)) bounded()
    else StateCache(("Tables.rows", path, columns, max), listingKey(listing))(bounded())
  }

  /** A reader of the table at `path` under `listing`; a schema miss
    * hands back the inferring read itself. */
  private def listedRead(spark: SparkSession, path: String,
                         listing: Seq[org.apache.hadoop.fs.FileStatus]): DataFrame = {
    if (partitioned(listing)) return spark.read.parquet(path)
    // A root whose own name Spark treats as hidden (the warehouse's
    // `_manifest`) is read through its listed visible files: read as a
    // directory, Spark scans it anyway but logs "All paths were
    // ignored" on every read.
    val hidden = (n: String) => n.startsWith("_") || n.startsWith(".")
    val visible = listing.map(_.getPath).filterNot(f => hidden(f.getName))
    val paths = if (hidden(new org.apache.hadoop.fs.Path(path).getName) && visible.nonEmpty)
      visible.map(_.toString) else Seq(path)
    var inferred: Option[DataFrame] = None
    val schema = StateCache(("Tables.schema", path), listingKey(listing)) {
      val df = spark.read.parquet(paths: _*)
      inferred = Some(df)
      df.schema
    }
    inferred.getOrElse(spark.read.schema(schema).parquet(paths: _*))
  }

  /** Row-group count of one parquet file — parquet's REAL scan
    * concurrency unit (a byte-ranged split over a row group it does
    * not start cannot produce rows). Footer-only read on the driver,
    * held in [[StateCache]] under len:mtime so repeat bench
    * invocations pay a single `getFileStatus` (the same class of
    * metadata op every scan's file listing already does). Used by the
    * scale-adaptive spreads to decide whether a scan can occupy the
    * machine; call sites bound the number of files they probe by
    * `defaultParallelism`, so at warehouse scale (file count >= cores)
    * no footer is ever read. */
  def rowGroupCount(spark: SparkSession, file: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(file)
    // a file deleted since the caller listed it (a concurrent rewrite)
    // counts as one row group: the width guess only sizes a spread,
    // and the scan itself reports the missing file loudly
    try {
      val st = p.getFileSystem(conf).getFileStatus(p)
      StateCache(("Tables.rowGroups", file), s"${st.getLen}:${st.getModificationTime}") {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try reader.getRowGroups.size finally reader.close()
      }
    } catch { case _: java.io.FileNotFoundException => 1 }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquetCached(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped in two parquet encodings across testdata
    * regenerations, so the loader adapts to what the file actually
    * contains instead of assuming one:
    *
    *  - TIMESTAMP(NANOS): Spark 4 refuses to map it to its µs
    *    TimestampType, so (with `spark.sql.legacy.parquet.nanosAsLong`)
    *    it arrives as a LongType of nanos. Convert with integer
    *    division (`div`, not `/` — double division would lose
    *    precision at 1e18 ns magnitudes). Values are µs-exact in the
    *    generated data, so this equals DuckDB's ns→µs cast.
    *  - plain µs TIMESTAMP (isAdjustedToUTC=false): Spark reads it as
    *    TIMESTAMP_NTZ. Cast to TimestampType — the session timezone is
    *    pinned to UTC ([[GraftSession]]), so the cast is
    *    wall-clock-preserving and yields the exact instants the nanos
    *    path produced, keeping window/watermark arithmetic and DuckDB
    *    oracle hashes unchanged.
    *
    * Any other encoding fails loudly with the observed schema — one
    * clear data-contract error instead of N downstream analysis
    * errors. */
  def events(s: SparkSession, d: String): DataFrame = {
    // fallback ONLY when truly unset — an explicit user `false` is
    // respected (the read will then fail loudly, which is correct)
    if (s.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(table(s, d, "events"))
  }

  /** Normalize `ts` to TimestampType per the contract above. Shared by
    * the batch loader and the streaming source ([[graft.streaming.Streams]])
    * so both paths accept every known encoding identically. */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts data contract violated: got $other, expected INT64 nanos, " +
          s"TIMESTAMP, or TIMESTAMP_NTZ. Events schema: ${raw.schema.treeString}")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  val AllNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every test table as a temp view so users get the
    * reference's actual product — a queryable SQL surface — via
    * `spark.sql(...)`, with the same Catalyst plans as the
    * DataFrame API. */
  def registerViews(s: SparkSession, d: String): Unit = AllNames.foreach {
    case "events" => events(s, d).createOrReplaceTempView("events")
    case n        => table(s, d, n).createOrReplaceTempView(n)
  }

  /** Fingerprint of one table's parquet file listing (names, sizes,
    * mtimes) — a driver metadata op, no data read. Version key for
    * anything persisted FROM a table (IVF indexes, minhash sketch
    * tables): a regenerated or appended corpus changes the listing,
    * so consumers rebuild instead of silently serving stale derived
    * state. Full SHA-256, not hashCode — a 32-bit collision would
    * silently serve stale persisted state for a changed corpus, and
    * persisted artifacts can outlive the JVM that built them. */
  def fingerprint(spark: SparkSession, dir: String, name: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(listingKey(listDir(spark, s"$dir/$name.parquet")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
