package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.metadata.{ColumnPath, FileMetaData, ParquetMetadata}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}

import scala.jdk.CollectionConverters._

/** Loaders for the driver-generated test tables (see TESTDATA.md).
  *
  * All operators take an `sfDir` so the same code runs at any scale
  * factor — or, on a real cluster, against a warehouse path holding
  * 100 TB of the same schema. Reads are plain parquet scans so
  * Catalyst pushes filters/projections down to the file source.
  */
object Tables {
  /** A listing with `key=value` subdirectories: a partitioned table. */
  private def partitioned(listing: Seq[FileStatus]): Boolean =
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
    * the listing's [[StateCache.identity]], so a stale schema is not
    * served.
    *
    * For UNPARTITIONED paths only — a partitioned table's inferred
    * schema carries partition-column type inference that must stay
    * live. That contract is enforced at runtime, not just by this
    * comment (ADVICE r20): a listing containing `key=value`
    * subdirectories bypasses the cache entirely, so a future call
    * site on a partitioned dir gets live inference instead of a
    * silently pinned partition-column type (directory entries also
    * carry len 0 and unreliable mtimes, which would poison the key). */
  def parquetCached(spark: SparkSession, path: String): DataFrame =
    listedRead(spark, path, StateCache.listing(spark, path))

  /** A table's rows held on the driver, with the schema a scan of the
    * table has. */
  final case class Snapshot(schema: StructType, rows: IndexedSeq[Row])

  /** The unpartitioned table at `path` read on the driver once per
    * listing key, or None when its footers count more than `max` rows
    * or a column does not decode on the driver ([[readOnDriver]]); the
    * caller then stays on a distributed plan. The bound is decided from
    * the [[footers]] before a row is decoded, and no Spark job runs
    * either way. A hit costs the listing and nothing else. The schema is
    * the one Spark infers for the scan: the first file's footer schema,
    * every field nullable. */
  def collectCached(spark: SparkSession, path: String, max: Long): Option[Snapshot] = {
    val listing = StateCache.listing(spark, path)
    require(!partitioned(listing), s"collectCached: $path is a partitioned table")
    StateCache(("Tables.rows", path, max), StateCache.identity(listing)) {
      val files = footers(spark, path, listing)
      if (files.isEmpty || files.map(_.rows).sum > max) None
      else {
        val inferred = ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(files.head.file.getPath,
            new ParquetMetadata(files.head.meta, java.util.Collections.emptyList())),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        val schema = StructType(inferred.fields.map(_.copy(nullable = true)))
        readOnDriver(spark, files.map(_.file -> Nil), schema, None).map(Snapshot(schema, _))
      }
    }
  }

  /** One parquet file's footer facts: its row count, its file metadata
    * (schema and key-value metadata), and, per top-level column of a
    * plain or string type, the statistics merged over its row groups. A
    * column is absent from `stats` when a row group holds values of it
    * but no min/max or no null count. */
  final case class Footer(file: FileStatus, rows: Long, meta: FileMetaData,
                          stats: Map[String, Statistics[_]])

  /** The footers of the files a Spark scan of `path` reads (a directory
    * of part files, or one file): visible and non-empty. Read on the
    * driver through [[openParquet]] and held in [[StateCache]] under
    * the listing identity, so a rewrite re-reads them. Throws
    * FileNotFoundException when `path` is gone. */
  def footers(spark: SparkSession, path: String): Seq[Footer] = {
    val p = new Path(path)
    footers(spark, path, p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq)
  }

  /** [[footers]] of `path` under a listing the caller already holds. */
  private[graft] def footers(spark: SparkSession, path: String, listing: Seq[FileStatus]): Seq[Footer] =
    StateCache(("Tables.footers", path), StateCache.identity(listing)) {
      listing.filter(dataFile).sortBy(_.getPath.getName).map { st =>
        val reader = openParquet(spark, st)
        try footerOf(st, reader.getFooter) finally reader.close()
      }
    }

  private def footerOf(file: FileStatus, footer: ParquetMetadata): Footer = {
    val meta = footer.getFileMetaData
    val blocks = footer.getBlocks.asScala
    val stats = meta.getSchema.getFields.asScala.filter(t =>
      t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) &&
        (t.getLogicalTypeAnnotation == null || t.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType())
    ).flatMap { t =>
      val merged = Statistics.createStats(t.asPrimitiveType)
      val complete = blocks.forall(_.getColumns.asScala.find(_.getPath == ColumnPath.get(t.getName))
        .exists { c =>
          val s = c.getStatistics
          // parquet drops min/max it deems too long but keeps the null
          // count: a chunk without a non-null value must be all nulls
          val known = s != null && s.isNumNullsSet && (s.hasNonNullValue || s.getNumNulls == c.getValueCount)
          if (known) merged.mergeStatistics(s)
          known
        })
      Option.when(complete)(t.getName -> (merged: Statistics[_]))
    }.toMap
    Footer(file, blocks.map(_.getRowCount).sum, meta, stats)
  }

  /** Min and max (None when no value is non-null) and null count of
    * column `name` over `files`, as Spark values. Fails loudly when a
    * file holds rows but no statistics for the column. */
  def columnStats(files: Seq[Footer], name: String): (Option[Any], Option[Any], Long) = {
    val parts = files.filter(_.rows > 0).map(f => f.stats.getOrElse(name,
      throw new IllegalStateException(s"${f.file.getPath}: no parquet statistics for column $name")))
    if (parts.isEmpty) return (None, None, 0L)
    val merged = Statistics.createStats(parts.head.`type`)
    parts.foreach(merged.mergeStatistics(_))
    def value(v: Any): Any = v match {
      case b: Binary => b.toStringUsingUTF8
      case other => other
    }
    if (!merged.hasNonNullValue) (None, None, merged.getNumNulls)
    else (Some(value(merged.genericGetMin)), Some(value(merged.genericGetMax)), merged.getNumNulls)
  }

  /** A file a Spark file scan reads: visible and non-empty. */
  private[graft] def dataFile(s: FileStatus): Boolean = s.isFile && s.getLen > 0 && !hidden(s.getPath.getName)

  /** A reader of the table at `path` under `listing`; a schema miss
    * hands back the inferring read itself. */
  private def listedRead(spark: SparkSession, path: String,
                         listing: Seq[FileStatus]): DataFrame = {
    if (partitioned(listing)) return spark.read.parquet(path)
    // A root whose own name Spark treats as hidden (the warehouse's
    // `_manifest`) is read through its listed visible files: read as a
    // directory, Spark scans it anyway but logs "All paths were
    // ignored" on every read.
    val visible = listing.map(_.getPath).filterNot(f => hidden(f.getName))
    val paths = if (hidden(new Path(path).getName) && visible.nonEmpty)
      visible.map(_.toString) else Seq(path)
    var inferred: Option[DataFrame] = None
    val schema = StateCache(("Tables.schema", path), StateCache.identity(listing)) {
      val df = spark.read.parquet(paths: _*)
      inferred = Some(df)
      df.schema
    }
    inferred.getOrElse(spark.read.schema(schema).parquet(paths: _*))
  }

  /** A file or directory name that Spark's file sources skip. */
  private[graft] def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

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
    val p = new Path(file)
    // a file deleted since the caller listed it (a concurrent rewrite)
    // counts as one row group: the width guess only sizes a spread,
    // and the scan itself reports the missing file loudly
    try {
      val st = p.getFileSystem(conf).getFileStatus(p)
      StateCache(("Tables.rowGroups", file), s"${st.getLen}:${st.getModificationTime}") {
        val reader = openParquet(spark, st)
        try reader.getRowGroups.size finally reader.close()
      }
    } catch { case _: java.io.FileNotFoundException => 1 }
  }

  /** Opens the listed parquet `file` on the driver, over the session's
    * Hadoop conf, with `filter` pruning row groups (statistics,
    * dictionaries) and, in `readNextFilteredRowGroup`, column-index
    * pages. Every driver-side parquet open goes through here: the
    * option-less parquet 1.16 entry points (`ParquetFileReader.open(in)`,
    * `ParquetReadOptions.builder()`, `ParquetReader.builder`) each
    * build a fresh Hadoop `Configuration` and re-parse its default
    * resources on every call, 12-16 ms against 0.5 ms for a filtered
    * read of a 24 KB file through these options. */
  private[graft] def openParquet(
      spark: SparkSession, file: FileStatus,
      filter: FilterCompat.Filter = FilterCompat.NOOP)
      : org.apache.parquet.hadoop.ParquetFileReader = {
    val conf = spark.sparkContext.hadoopConfiguration
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, file.getPath).withRecordFilter(filter).build())
  }

  /** The rows of `files` read on the driver, in the order of `schema`:
    * the one driver-side parquet row reader. Each file pairs with its
    * constants (partition values), which fill the last columns of
    * `schema`; the leading columns are read from the file by name, null
    * where the file lacks one, as Spark's scan reads them. With a `key`
    * (column, value), only rows whose column equals the value are kept:
    * a parquet record filter skips row groups by statistics and
    * dictionaries and pages by column index, and each surviving row is
    * checked against the value again. None when a column is not a
    * bigint, double or string stored as such. Every file is opened
    * through [[openParquet]]. */
  private[graft] def readOnDriver(spark: SparkSession, files: Seq[(FileStatus, Seq[Any])],
                                  schema: StructType,
                                  key: Option[(String, Any)]): Option[IndexedSeq[Row]] = {
    import PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
    val data = schema.fields.dropRight(files.headOption.fold(0)(_._2.length))
    val physical = data.map(_.dataType match {
      case LongType => Some(INT64)
      case DoubleType => Some(DOUBLE)
      case StringType => Some(BINARY)
      case _ => None
    })
    if (key.exists(_._1.contains('.')) || physical.contains(None)) return None
    val filter = key.fold(FilterCompat.NOOP) {
      case (k, v: Long) => FilterCompat.get(FilterApi.eq(FilterApi.longColumn(k), java.lang.Long.valueOf(v)))
      case (k, v: String) => FilterCompat.get(FilterApi.eq(FilterApi.binaryColumn(k), Binary.fromString(v)))
    }
    val keySlot = key.map(k => data.indexWhere(_.name == k._1))
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val decoded = files.forall { case (st, constants) =>
      val reader = openParquet(spark, st, filter)
      try {
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        val names = fileSchema.getFields.asScala.map(_.getName).toSet
        def field(i: Int) = fileSchema.getType(fileSchema.getFieldIndex(data(i).name))
        val slots = data.indices.filter(i => names.contains(data(i).name))
        val decodable = data.forall(f => names.contains(f.name) || !names.exists(_.equalsIgnoreCase(f.name))) &&
          slots.forall { i =>
            val t = field(i)
            val annotation = t.getLogicalTypeAnnotation
            t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) &&
              physical(i).contains(t.asPrimitiveType.getPrimitiveTypeName) &&
              (annotation == null ||
                data(i).dataType == StringType && annotation == LogicalTypeAnnotation.stringType())
          }
        if (decodable && keySlot.forall(slots.contains)) {
          val requested = new MessageType(fileSchema.getName,
            slots.map(field): _*)
          reader.setRequestedSchema(requested)
          val io = new ColumnIOFactory(reader.getFooter.getFileMetaData.getCreatedBy)
            .getColumnIO(requested, fileSchema, true)
          var pages = reader.readNextFilteredRowGroup()
          while (pages != null) {
            val records = io.getRecordReader(pages, new SlotMaterializer(slots, data.length), filter)
            var n = 0L
            while (n < pages.getRowCount) {
              val r = records.read()
              if (r != null && !records.shouldSkipCurrentRecord && key.forall(k => r(keySlot.get) == k._2))
                rows += Row.fromSeq(r.toSeq ++ constants)
              n += 1
            }
            pages = reader.readNextFilteredRowGroup()
          }
        }
        decodable
      } finally reader.close()
    }
    if (decoded) Some(rows.toIndexedSeq) else None
  }

  /** Materializes one parquet record of a driver read: field `j` of the
    * requested schema lands in slot `slots(j)` of a `width`-wide array,
    * and a slot no field fills stays null. */
  private final class SlotMaterializer(slots: IndexedSeq[Int], width: Int)
      extends RecordMaterializer[Array[Any]] {
    private var current: Array[Any] = _
    private val root = new GroupConverter {
      private val fields: IndexedSeq[Converter] = slots.map(slot => new PrimitiveConverter {
        override def addLong(v: Long): Unit = current(slot) = v
        override def addDouble(v: Double): Unit = current(slot) = v
        override def addBinary(v: Binary): Unit = current(slot) = v.toStringUsingUTF8
      })
      override def getConverter(i: Int): Converter = fields(i)
      override def start(): Unit = current = new Array[Any](width)
      override def end(): Unit = ()
    }
    override def getCurrentRecord: Array[Any] = current
    override def getRootConverter: GroupConverter = root
  }

  /** Where table `name` of the corpus at `dir` lives. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquetCached(spark, path(dir, name))

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

  /** SHA-256 of one table's listing [[StateCache.identity]]: the
    * version of the persisted IVF index, which outlives the JVM that
    * built it, so it is stored in full (a 32-bit hash could collide
    * and serve a stale index for a changed corpus). */
  def fingerprint(spark: SparkSession, dir: String, name: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(StateCache.identity(StateCache.listing(spark, path(dir, name))).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
