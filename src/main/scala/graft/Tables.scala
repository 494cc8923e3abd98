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
  /** Inferred-schema memo, keyed by the file listing (name:len:mtime
    * per file — the same identity [[fingerprint]] hashes). Spark runs
    * a one-task JOB per `spark.read.parquet` to read footers for
    * schema inference; at bench scale that job plus its scheduling
    * gap (~25 ms) is re-paid on EVERY entry invocation for EVERY
    * table it touches — measured 10 such jobs inside one
    * warehouse_sql run (r20 profile). The schema is table METADATA
    * (what a metastore would serve), not data or results: the scan
    * itself still reads the parquet files on every run, and a
    * regenerated file changes the listing key, so a stale schema can
    * never be served.
    *
    * The same entry also holds the bounded driver-side row snapshots
    * [[collectCached]] takes of a small table (the warehouse manifest's
    * span index): they are derived from exactly the files the listing
    * key names, so they share its identity and its invalidation. */
  private final class Listed(val key: String, val schema: org.apache.spark.sql.types.StructType,
                             val rows: Map[(Seq[String], Int), Option[IndexedSeq[org.apache.spark.sql.Row]]])
  private val schemaCache = new scala.collection.concurrent.TrieMap[String, Listed]

  /** One level of the path's file listing (driver metadata op). */
  private def listDir(spark: SparkSession, path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.globStatus(new org.apache.hadoop.fs.Path(p, "*"))
    if (stats == null || stats.isEmpty) Seq(fs.getFileStatus(p))
    else stats.toSeq
  }

  /** Cheap listing key for one table path (driver metadata op). */
  private def listingKey(listing: Seq[org.apache.hadoop.fs.FileStatus]): String =
    listing.map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")

  /** `spark.read.parquet(path)` with the schema memo above. For
    * UNPARTITIONED paths only — a partitioned table's inferred schema
    * carries partition-column type inference that must stay live.
    * That contract is enforced at runtime, not just by this comment
    * (ADVICE r20): a listing containing `key=value` subdirectories
    * bypasses the memo entirely, so a future call site on a
    * partitioned dir gets live inference instead of a silently pinned
    * partition-column type (directory entries also carry len 0 and
    * unreliable mtimes, which would poison the key). Known residual
    * accepted: a NON-Spark writer replacing a file in-place with the
    * same name+length within mtime granularity could serve a stale
    * schema — all writers here are Spark (new part-UUID filenames per
    * write), so the listing key always moves. */
  def parquetCached(spark: SparkSession, path: String): DataFrame = cachedRead(spark, path)._2()

  /** The rows of `columns` in the unpartitioned table at `path`,
    * collected to the driver once per listing key, or None when the
    * table holds more than `max` rows (the caller then stays on a
    * distributed plan). One `limit(max + 1)` collect decides both, so
    * a table past the bound costs one bounded job per listing key, not
    * a count plus a collect. A memo hit costs the listing and nothing
    * else (no relation is resolved). Partitioned paths bypass the memo
    * as in [[parquetCached]] and collect on every call. */
  def collectCached(spark: SparkSession, path: String, columns: Seq[String],
                    max: Int): Option[IndexedSeq[org.apache.spark.sql.Row]] = {
    val (entry, read) = cachedRead(spark, path)
    def bounded() = {
      val rows = read().select(columns.map(org.apache.spark.sql.functions.col): _*)
        .limit(max + 1).collect()
      if (rows.length > max) None else Some(rows.toIndexedSeq)
    }
    entry match {
      case None => bounded()
      case Some(e) => e.rows.getOrElse((columns, max), {
        val r = bounded()
        // compare-and-set: an entry already replaced under a newer
        // listing key is left alone
        schemaCache.replace(path, e, new Listed(e.key, e.schema, e.rows + ((columns, max) -> r)))
        r
      })
    }
  }

  /** The memo entry for the path's current listing (None for a
    * partitioned path) and a reader of the table under it; a miss
    * infers the schema, stores it, and hands back the inferred read. */
  private def cachedRead(spark: SparkSession, path: String): (Option[Listed], () => DataFrame) = {
    val listing = listDir(spark, path)
    if (listing.exists(s => s.isDirectory && s.getPath.getName.contains("=")))
      return (None, () => spark.read.parquet(path))
    val key = listingKey(listing)
    // A root whose own name Spark treats as hidden (the warehouse's
    // `_manifest`) is read through its listed visible files: read as a
    // directory, Spark scans it anyway but logs "All paths were
    // ignored" on every read.
    val hidden = (n: String) => n.startsWith("_") || n.startsWith(".")
    val visible = listing.map(_.getPath).filterNot(f => hidden(f.getName))
    val paths = if (hidden(new org.apache.hadoop.fs.Path(path).getName) && visible.nonEmpty)
      visible.map(_.toString) else Seq(path)
    schemaCache.get(path) match {
      case Some(e) if e.key == key => (Some(e), () => spark.read.schema(e.schema).parquet(paths: _*))
      case _ =>
        val df = spark.read.parquet(paths: _*)
        val e = new Listed(key, df.schema, Map.empty)
        schemaCache.put(path, e)
        (Some(e), () => df)
    }
  }

  /** Row-group count of one parquet file — parquet's REAL scan
    * concurrency unit (a byte-ranged split over a row group it does
    * not start cannot produce rows). Footer-only read on the driver,
    * memoized on len:mtime so repeat bench invocations pay a single
    * `getFileStatus` (the same class of metadata op every scan's
    * file listing already does). Used by the scale-adaptive spreads
    * to decide whether a scan can occupy the machine; call sites
    * bound the number of files they probe by `defaultParallelism`,
    * so at warehouse scale (file count >= cores) no footer is ever
    * read. */
  private val rowGroupMemo = new scala.collection.concurrent.TrieMap[String, (String, Int)]
  def rowGroupCount(spark: SparkSession, file: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(file)
    // a file deleted since the caller listed it (a concurrent rewrite)
    // counts as one row group: the width guess only sizes a spread,
    // and the scan itself reports the missing file loudly
    try {
      val st = p.getFileSystem(conf).getFileStatus(p)
      val key = s"${st.getLen}:${st.getModificationTime}"
      rowGroupMemo.get(file) match {
        case Some((`key`, n)) => n
        case _ =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          val n = try reader.getRowGroups.size finally reader.close()
          rowGroupMemo.put(file, (key, n))
          n
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
  def fingerprint(spark: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.globStatus(new org.apache.hadoop.fs.Path(p, "*"))
    val listing =
      if (stats == null || stats.isEmpty) Seq(fs.getFileStatus(p))
      else stats.toSeq
    val s = listing.map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
