package graft.sinks

import graft.sources.{LayoutSpec, Sdf}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** The 100 TB sink: a parquet warehouse with an idempotent,
  * file-granularity ingest manifest.
  *
  * Mirrors the reference's incremental bookkeeping — the `sdf_file`
  * table (/root/reference/pubchem2sqlite/utils.py:222) and
  * `get_sdf_files_not_in_db` (utils.py:272) — but cluster-safe: the
  * manifest is itself a small parquet table, the "files not yet
  * loaded" set is a local anti-filter over the driver-side file
  * listing (thousands of filenames, not data rows), and compound
  * rows are appended partition-parallel.
  *
  * Divergence from the reference, on purpose: lowest/highest CID are
  * computed from the DATA (min/max of extracted cid per file), not
  * parsed out of the filename (utils.py:330) — filename-derived
  * ranges silently break on any non-PubChem naming scheme.
  */
object Warehouse {
  final case class IngestResult(filesLoaded: Seq[String], rowsLoaded: Long)

  def compoundsDir(warehouseDir: String): String = s"$warehouseDir/compounds"
  def manifestDir(warehouseDir: String): String = s"$warehouseDir/_manifest"

  /** Cross-JVM writer lease file at the warehouse root, shared by
    * ingest and compact (see [[graft.FsLease]]): the manifest append
    * and the compaction swap both assume a single writer, and the
    * unrecoverable compact crash state (dir+old+tmp all present) is
    * precisely an ingest interleaving a compaction — one lease for
    * both writers makes that state unreachable instead of merely
    * documented. */
  private[graft] val WriterLockName = "_graft_writer_lock"

  private def withWriterLease[T](spark: SparkSession, warehouseDir: String)(body: => T): T = {
    val root = new Path(warehouseDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    graft.FsLease.withLease(fs, root, WriterLockName)(body)
  }

  /** Manifest rows: filename, lowest_cid, highest_cid, date_added,
    * n_compounds — the sdf_file schema (utils.py:222-227). */
  def manifest(spark: SparkSession, warehouseDir: String): DataFrame = {
    val path = new Path(manifestDir(warehouseDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // schema memo (r20): the manifest is a flat unpartitioned dir and
    // every warehouse entry re-reads it several times per run — the
    // bare read re-paid a footer-inference job each time. The memo
    // keys on the file listing, so an appended manifest re-infers.
    if (fs.exists(path)) graft.Tables.parquetCached(spark, path.toString)
    else spark.emptyDataFrame
  }

  /** Span-matching files above which the lookup stops pruning the
    * scan to the matching partition directories: on a healthy
    * warehouse the per-file [lowest, highest] spans barely overlap
    * and a pk matches O(1) files, but a pathologically interleaved
    * ingest history could match the whole manifest — listing millions
    * of directories and building a million-term predicate would hurt
    * both driver memory and planning. Past the cap the lookup falls
    * back to the pushed pk filter alone (row-group stats still skip
    * most of the corpus); the static partition prune is an
    * optimization, never a correctness dependency. */
  val MaxLookupPruneFiles = 10000

  /** Candidate parquet bytes up to which a point lookup reads its
    * candidate files on the driver ([[readOnDriver]]) instead of
    * scanning them in a Spark job. The read runs on one driver thread
    * and, when no row group or page is pruned, decodes every candidate
    * row, so the bound caps driver time and memory per lookup. It is a
    * constant, like `Curation.DriverClosureMaxEdges`, because that cap
    * is a property of the driver, not of a workload: a conf key could
    * turn one lookup into a single-threaded read of a whole table. At
    * 64 MiB it sits below Spark's default 128 MiB split, where the scan
    * would read the same bytes in one task as well. */
  val DriverReadMaxBytes: Long = 64L << 20

  /** Point lookup by primary key — the reference's headline query
    * (indexed cid lookup: the SQLite pk + WITH_INDEX role,
    * utils.py:181,334) at warehouse scale. The manifest's per-file
    * [lowest_cid, highest_cid] spans ARE the index.
    *
    * The candidates are known before any job runs: the spans come
    * from the driver-side manifest snapshot ([[manifestSpans]] —
    * collected once per manifest listing key, the same snapshot the
    * ingest skip set reads), so picking the candidate files is a loop
    * over at most `ManifestCollectMax` rows, and one `listStatus` per
    * candidate `src_filename=` directory names its files. A candidate
    * whose directory is gone — a retract that crashed after deleting
    * an emptied partition but before repairing its manifest row (see
    * [[retract]]) — holds no rows.
    *
    * Driver route, candidates of at most [[DriverReadMaxBytes]]: the
    * files are read on the driver under a parquet record filter on the
    * pk, which also skips row groups by statistics and pages by column
    * index, and the matching rows come back as a local relation.
    * `collect()`, and a projection such as `drop`, run no Spark job
    * and compile no codegen class. Same schema and rows as the scan
    * (LookupSpec pins the equivalence), including null for a layout
    * column an older file lacks and the string `src_filename`; but the
    * frame is local, so `inputFiles` is empty and there is no
    * `_metadata` column.
    *
    * Scan route, past the bound (or for a column the driver read does
    * not decode): one Spark job reads ONLY the candidate directories
    * (`basePath` = the compounds dir) under a schema derived from
    * `layout` plus `src_filename: string` — no schema-inference job,
    * no listing of every partition, and an all-digit filename keeps
    * its lexical form — with the isin partition filter and the pushed
    * pk filter. That scan inlines the pk literal into its generated
    * code, so each distinct cid compiles a class. Plan-pinned in
    * LookupSpec and SinksSpec.
    *
    * Past `ManifestCollectMax` manifest rows the candidates come from
    * a distributed filter over the manifest instead; past
    * `MaxLookupPruneFiles` candidates the lookup scans [[compounds]]
    * under the pk filter alone. */
  def lookup(spark: SparkSession, warehouseDir: String, cid: Long,
             layout: LayoutSpec = LayoutSpec.default): DataFrame =
    lookup(spark, warehouseDir, cid, layout, DriverReadMaxBytes)

  /** [[lookup]] with the driver route's byte bound as a parameter, so
    * specs can run both routes on one warehouse. */
  private[graft] def lookup(spark: SparkSession, warehouseDir: String, cid: Long,
                            layout: LayoutSpec, driverMaxBytes: Long): DataFrame = {
    val pk = layout.columns.find(_.primaryKey).map(_.name)
      .getOrElse(layout.columns.head.name)
    val files = manifestSpans(spark, warehouseDir) match {
      case Some(spans) => spans.collect {
        case r if !r.isNullAt(1) && !r.isNullAt(2) && r.getLong(1) <= cid && r.getLong(2) >= cid =>
          r.getString(0)
      }
      case None => manifest(spark, warehouseDir)
        .filter(col("lowest_cid") <= cid && col("highest_cid") >= cid)
        .select("filename").limit(MaxLookupPruneFiles + 1)
        .collect().map(_.getString(0)).toSeq
    }
    if (files.length > MaxLookupPruneFiles)
      return compounds(spark, warehouseDir).filter(col(pk) === cid)
    val dataDir = new Path(compoundsDir(warehouseDir))
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = files.flatMap { f =>
      val d = partitionDir(dataDir, f)
      try Some((f, d, dataFiles(fs, d)))
      catch { case _: java.io.FileNotFoundException => None }
    }
    val schema = StructType(layout.columns.map(c => StructField(c.name, c.sparkType)) :+
      StructField("src_filename", StringType))
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else readOnDriver(spark, dirs.flatMap { case (f, _, st) => st.map(_ -> Seq(f)) }, schema,
        pk, cid, driverMaxBytes)
      .getOrElse(spark.read.schema(schema).option("basePath", dataDir.toString)
        .parquet(dirs.map(_._2.toString): _*)
        .filter(col("src_filename").isin(dirs.map(_._1): _*) && col(pk) === cid))
  }

  /** Secondary-index lookup — the reference's OTHER headline query
    * (WITH_INDEX columns like InChIKey, utils.py:334): no manifest
    * span exists for a non-pk key, so the index is a BUCKETED
    * published table ([[publishBucketed]] with `key` = the indexed
    * column). The key's bucket id (Spark's Murmur3 pmod, computed on
    * the driver from the value) picks one of the N buckets, and the
    * bucket id in each file name picks that bucket's files — at 100 TB
    * the read is corpus/N-buckets, sized by the bucket count chosen at
    * publish time (thousands at warehouse scale).
    *
    * Driver route, when the catalog names an unpartitioned parquet
    * table (not a view) bucketed on `key` alone, `key` is a string
    * column and the bucket's files hold at most [[DriverReadMaxBytes]]:
    * the catalog entry and one listing of the table location name the
    * files, which are read on the driver under a parquet record filter
    * on the key (the per-bucket sortBy makes its row-group and page
    * statistics selective), and the rows come back as a local relation
    * with the table's schema. `collect()` runs no Spark job. The frame
    * is local: `inputFiles` is empty and there is no `_metadata`
    * column. The listing is live, so files a writer adds behind the
    * catalog's back show here before the scan's cached file index
    * sees them.
    *
    * Otherwise Spark plans a plain filter on the table. Under a pure
    * filter the autoBucketedScan rule turns the bucketed scan off
    * (bucketing avoids no shuffle here), and on Spark 4.1 the
    * non-bucketed scan still prunes files by the bucket set: one
    * InChIKey reads one bucket as 1 task, where the forced bucketed
    * scan planned one task per bucket. Pinned structurally in
    * LookupSpec and SinksSpec (1 of N bucket-set bits, exactly that
    * bucket's files read, in 1 task). */
  def lookupIndexed(spark: SparkSession, table: String, key: String,
                    value: String): DataFrame =
    lookupIndexed(spark, table, key, value, DriverReadMaxBytes)

  /** [[lookupIndexed]] with the driver route's byte bound as a
    * parameter, so specs can run both routes on one table. */
  private[graft] def lookupIndexed(spark: SparkSession, table: String, key: String,
                                   value: String, driverMaxBytes: Long): DataFrame = {
    val catalog = spark.sessionState.catalog
    val resolver = spark.sessionState.conf.resolver
    val driverRead = for {
      ident <- scala.util.Try(spark.sessionState.sqlParser.parseTableIdentifier(table)).toOption
      if value != null && !catalog.isTempView(ident) && catalog.tableExists(ident)
      meta = catalog.getTableMetadata(ident)
      if meta.tableType != CatalogTableType.VIEW && meta.partitionColumnNames.isEmpty &&
        meta.provider.exists(_.equalsIgnoreCase("parquet"))
      b <- meta.bucketSpec if b.bucketColumnNames.length == 1 && resolver(b.bucketColumnNames.head, key)
      k <- meta.schema.find(f => resolver(f.name, key)) if k.dataType == StringType
      location <- meta.storage.locationUri
      // BucketingUtils.getBucketIdFromValue's expression, interpreted:
      // its generated projection costs about 1 ms per call
      bucket = HashPartitioning(Seq(Literal(value)), b.numBuckets).partitionIdExpression.eval()
      dir = new Path(location)
      files = dataFiles(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
        .filter(f => BucketingUtils.getBucketId(f.getPath.getName).contains(bucket))
      df <- readOnDriver(spark, files.map(_ -> Nil), meta.schema, k.name, value, driverMaxBytes)
    } yield df
    driverRead.getOrElse(spark.table(table).filter(col(key) === value))
  }

  /** The files a Spark file scan of `dir` reads: visible and non-empty.
    * Throws FileNotFoundException when `dir` is gone. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(s => s.isFile && s.getLen > 0 && !graft.Tables.hidden(s.getPath.getName))

  /** The rows of `files` whose `key` column equals `value`, read on the
    * driver and returned as a local relation of `schema`. Each file
    * pairs with its constants (partition values), which fill the last
    * columns of `schema`; the leading columns are read from the file by
    * name, null where the file lacks one, as Spark's scan reads them.
    * The parquet record filter on `key` skips row groups by statistics
    * and dictionaries and pages by column index, and each surviving
    * row is checked against `value` again. None, and the caller scans,
    * when the files hold more than `maxBytes`, or a column is not a
    * bigint, double or string stored as such. Every file is opened
    * through [[graft.Tables.openParquet]]. */
  private def readOnDriver(spark: SparkSession, files: Seq[(FileStatus, Seq[Any])],
                           schema: StructType, key: String, value: Any,
                           maxBytes: Long): Option[DataFrame] = {
    import PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
    val data = schema.fields.dropRight(files.headOption.fold(0)(_._2.length))
    val physical = data.map(_.dataType match {
      case LongType => Some(INT64)
      case DoubleType => Some(DOUBLE)
      case StringType => Some(BINARY)
      case _ => None
    })
    if (files.map(_._1.getLen).sum > maxBytes || key.contains('.') || physical.contains(None))
      return None
    val filter = FilterCompat.get(value match {
      case v: Long => FilterApi.eq(FilterApi.longColumn(key), java.lang.Long.valueOf(v))
      case v: String => FilterApi.eq(FilterApi.binaryColumn(key), Binary.fromString(v))
    })
    val keySlot = data.indexWhere(_.name == key)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val decoded = files.forall { case (st, constants) =>
      val reader = graft.Tables.openParquet(spark, st, filter)
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
        if (decodable && slots.contains(keySlot)) {
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
              if (r != null && !records.shouldSkipCurrentRecord && r(keySlot) == value)
                rows += Row.fromSeq(r.toSeq ++ constants)
              n += 1
            }
            pages = reader.readNextFilteredRowGroup()
          }
        }
        decodable
      } finally reader.close()
    }
    if (decoded) Some(spark.createDataFrame(rows.asJava, schema)) else None
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

  /** Manifest rows above which neither the skip set nor the span
    * index is held on the driver: beyond it, pending files come from a
    * distributed anti-join (only the PENDING names — bounded by the
    * new work per run — ever reach the driver) and lookup candidates
    * from a distributed span filter. */
  val ManifestCollectMax = 100000

  /** The manifest's (filename, lowest_cid, highest_cid) rows on the
    * driver, or None past `ManifestCollectMax` rows. Read once per
    * manifest listing key and held in the listing-keyed memo of
    * [[graft.Tables.collectCached]]: every ingest append and every
    * retract swap writes new part-file names, so the next call after
    * any manifest write re-reads it and no stale span or skip set is
    * ever served. Throws if the warehouse has no manifest. */
  private def manifestSpans(spark: SparkSession, warehouseDir: String): Option[IndexedSeq[Row]] =
    graft.Tables.collectCached(spark, manifestDir(warehouseDir),
      Seq("filename", "lowest_cid", "highest_cid"), ManifestCollectMax)

  private def partitionDir(dataDir: Path, filename: String): Path = new Path(dataDir,
    "src_filename=" + org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(filename))

  /** Files under `all` not yet recorded in the manifest. Small
    * manifests (the PubChem scale the reference documents —
    * thousands of files) use a driver-side Set over the manifest
    * snapshot (the same read that serves the lookup's span index), as
    * the reference's `get_sdf_files_not_in_db`. A manifest past
    * `ManifestCollectMax` rows switches to a left-anti join of the
    * listing against the manifest table, so a million-file warehouse
    * never materializes its full history on the driver. The
    * snapshot's `limit(max + 1)` makes the choice without a separate
    * count job. */
  private def pendingFiles(spark: SparkSession, warehouseDir: String,
                           all: Seq[String]): Seq[String] = {
    val path = new Path(manifestDir(warehouseDir))
    if (!path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path))
      return all.sorted
    manifestSpans(spark, warehouseDir) match {
      case Some(spans) =>
        val done = spans.map(_.getString(0)).toSet
        all.filterNot(f => done.contains(basename(f))).sorted
      case None =>
        import spark.implicits._
        all.map(p => (p, basename(p))).toDF("path", "filename")
          .join(manifest(spark, warehouseDir).select("filename"), Seq("filename"), "left_anti")
          .select("path").as[String].collect().toSeq.sorted
    }
  }

  /** List input files matching the glob (driver-side metadata op —
    * O(#files), same as the reference's glob at utils.py:308). */
  def listSdfFiles(spark: SparkSession, glob: String): Seq[String] = {
    val path = new Path(glob)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(path)).map(_.toSeq.map(_.getPath.toString)).getOrElse(Nil)
  }

  private def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Ingest every not-yet-loaded file under `glob` into the
    * warehouse: extract per `layout`, append to compounds/, append
    * per-file stats to the manifest. Re-running with the same inputs
    * is a no-op (the skip set is filename-based, matching
    * `get_sdf_files_not_in_db` utils.py:282). */
  def ingest(spark: SparkSession, glob: String, warehouseDir: String,
             layout: LayoutSpec = LayoutSpec.default): IngestResult = {
    val all = listSdfFiles(spark, glob)
    // lease held across pending-set computation + data write +
    // manifest append: a concurrent ingest/compact against the same
    // root fails loudly instead of double-appending manifest rows or
    // racing the compaction swap. The pending set MUST be computed
    // inside the lease — reading the manifest before acquisition
    // could miss an in-flight writer's append and re-ingest its
    // files the moment it releases.
    withWriterLease(spark, warehouseDir) {
      val todo = pendingFiles(spark, warehouseDir, all)
      if (todo.isEmpty) IngestResult(Nil, 0L)
      else ingestFiles(spark, todo, warehouseDir, layout)
    }
  }

  /** Streaming twin of [[ingest]] (round 19, VERDICT r18 item 7):
    * SDF file ARRIVAL drives the warehouse — `readStream.text` with
    * the `$$$$` record delimiter watches the glob, and each
    * micro-batch lands through the SAME per-file transaction the
    * batch path uses, under `Trigger.AvailableNow` (drain what has
    * arrived, then stop — the nightly-ingest shape; a `new File
    * every N minutes` deployment just swaps the trigger).
    *
    * The manifest skip-set stays the source of truth, NOT the
    * stream's checkpoint: inside the writer lease each batch's file
    * list passes through [[pendingFiles]] before any write, so a
    * FRESH checkpoint over already-ingested files is a no-op (the
    * reference's own re-run semantics, utils.py:272) and a batch
    * ingest interleaved with streaming cannot double-load. The file
    * source schedules whole files per micro-batch, so the per-file
    * manifest rows (span + count) are computed from complete record
    * sets — the same single-pass stats as the batch path.
    *
    * A file the micro-batches cannot SEE still needs its manifest
    * row (ADVICE r19): the batch list is derived from the record
    * frame, which is post-cid-filter — an SDF file with zero
    * parseable CIDs (or zero bytes) contributes no rows to any
    * batch, so the foreachBatch loop alone would never manifest it
    * and every fresh-checkpoint run would re-read it, diverging
    * from the batch path's "every PROCESSED file gets a manifest
    * row" guarantee. After the stream drains, a catch-up sweep
    * re-lists the glob and runs the ordinary batch transaction over
    * whatever is still unmanifested — on the normal path that
    * pending set is empty (one bounded manifest probe, no data
    * read), and on the degenerate path it lands the n_compounds=0
    * rows exactly as batch ingest would.
    *
    * Scale shape: identical to N successive [[ingest]] calls — the
    * stream adds arrival tracking, not a new write path. Returns
    * the files loaded across all micro-batches plus the catch-up
    * sweep. */
  def ingestStream(spark: SparkSession, glob: String, warehouseDir: String,
                   checkpoint: String,
                   layout: LayoutSpec = LayoutSpec.default): Seq[String] = {
    import org.apache.spark.sql.streaming.Trigger
    val loaded = scala.collection.mutable.ArrayBuffer.empty[String]
    val records = Sdf.records(
      spark.readStream.option("lineSep", "$$$$").text(glob))
    val q = records.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // distinct file list of this batch: bounded by files-per-
        // trigger, the unit the source schedules
        val files = batch.select(col("src_file")).distinct()
          .collect().map(_.getString(0)).toSeq
        if (files.nonEmpty) withWriterLease(spark, warehouseDir) {
          val todo = pendingFiles(spark, warehouseDir, files)
          if (todo.nonEmpty) {
            val r = ingestFrame(spark,
              batch.filter(col("src_file").isin(todo: _*)), todo,
              warehouseDir, layout)
            loaded.synchronized { loaded ++= r.filesLoaded }
          }
        }
        ()
      }
      .start()
    q.awaitTermination()
    // catch-up sweep for record-less files (see scaladoc): the same
    // batch transaction, a no-op when the micro-batches manifested
    // everything the glob matches
    val swept = ingest(spark, glob, warehouseDir, layout)
    loaded.toSeq ++ swept.filesLoaded
  }

  private def ingestFiles(spark: SparkSession, todo: Seq[String], warehouseDir: String,
                          layout: LayoutSpec): IngestResult =
    // One distributed read over exactly the pending files. Keeping
    // src_file through extraction lets both the manifest stats and
    // the append happen in a single pass over the data.
    ingestFrame(spark, Sdf.read(spark, todo), todo, warehouseDir, layout)

  /** Core of one ingest transaction over an already-read record
    * frame (sdf, src_file, cid rows covering exactly `todo`) —
    * shared by the batch path (which reads the pending files
    * itself) and the streaming path (whose micro-batch already
    * holds the records). Caller holds the writer lease. */
  private def ingestFrame(spark: SparkSession, read: DataFrame, todo: Seq[String],
                          warehouseDir: String, layout: LayoutSpec): IngestResult = {
    val extracted = Sdf.filterNotNull(
      read.select(Seq(col("src_file")) ++
        layout.columns.map(c => Sdf.extractColumn(col("sdf"), c)): _*),
      layout)
    extracted.cache()
    try {
      val pk = layout.columns.find(_.primaryKey).map(_.name).getOrElse(layout.columns.head.name)
      // Compounds are PARTITIONED BY SOURCE FILENAME and written with
      // dynamic partition overwrite: the manifest append (below)
      // happens after the data write, so a crash between the two
      // leaves the file un-manifested — and the re-run then
      // OVERWRITES that file's partition instead of duplicating its
      // rows. Per-file reprocessing also gets partition pruning.
      extracted
        .withColumn("src_filename", element_at(split(col("src_file"), "/"), -1))
        .drop("src_file")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("src_filename")
        .parquet(compoundsDir(warehouseDir))
      // Every PROCESSED file gets a manifest row — even one whose
      // rows were all NOT_NULL-filtered (n_compounds = 0). Otherwise
      // such a file would be re-read on every ingest, forever.
      import spark.implicits._
      val processed = todo.map(basename).toDF("filename")
      val stats = extracted
        .groupBy(element_at(split(col("src_file"), "/"), -1).as("filename"))
        .agg(min(col(pk)).as("lowest_cid"), max(col(pk)).as("highest_cid"),
          count(lit(1)).as("n_compounds"))
      processed.join(stats, Seq("filename"), "left")
        .na.fill(0L, Seq("n_compounds"))
        .withColumn("date_added", date_format(current_date(), "yyyy-MM-dd"))
        .select("filename", "lowest_cid", "highest_cid", "date_added", "n_compounds")
        .write.mode("append").parquet(manifestDir(warehouseDir))
      val rows = extracted.count()
      IngestResult(todo.map(basename), rows)
    } finally extracted.unpersist()
  }

  /** The live compounds table. src_filename is pinned to string at
    * the source: partition-column type inference would narrow an
    * all-digit filename corpus to a numeric type, and every consumer
    * that round-trips partition VALUES back into partition PATHS
    * (retract's staged rewrite, compact's sizing join) needs the
    * lexical form preserved ('00123', not 123). The pin costs a
    * second relation resolution only in the degenerate all-digit
    * case — real SDF names carry '.sdf' and infer string, so the
    * guard is a schema check on the already-resolved read. */
  def compounds(spark: SparkSession, warehouseDir: String): DataFrame = {
    val df = spark.read.parquet(compoundsDir(warehouseDir))
    val needsPin = df.schema.exists(f =>
      f.name == "src_filename" && f.dataType != org.apache.spark.sql.types.StringType)
    if (!needsPin) df
    else spark.read.schema(org.apache.spark.sql.types.StructType(df.schema.map(f =>
      if (f.name == "src_filename") f.copy(dataType = org.apache.spark.sql.types.StringType)
      else f))).parquet(compoundsDir(warehouseDir))
  }

  /** Drop-and-recreate semantics of the reference's
    * `initialize_db(reset=True)` (utils.py:217-219): removes the
    * compounds data, the ingest manifest, AND any catalog tables
    * published from this warehouse — the reference drops the
    * compounds table outright, so published surfaces must not keep
    * serving pre-reset rows. */
  def reset(spark: SparkSession, warehouseDir: String,
            publishedTables: Seq[String] = Nil): Unit = {
    publishedTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(warehouseDir)
    val fs = base.getFileSystem(conf)
    val dirs = Seq(compoundsDir(warehouseDir), manifestDir(warehouseDir)).map(new Path(_)) ++
      publishedTables.map(t => new Path(s"$warehouseDir/bucketed_$t"))
    dirs.foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }

  /** Compact the compounds table's accumulated small files: rewrites
    * each src_filename partition into ~`targetFileBytes` output
    * files. Incremental per-file ingest writes one file set per
    * source SDF per run; at warehouse scale thousands of tiny files
    * tax the metadata service and every scan's split planning. The
    * rewrite goes to a sibling temp directory and swaps in with two
    * renames, under the shared writer lease (a concurrent ingest or
    * second compactor fails loudly at acquisition — round 8; before
    * that, single-writer was an honor-system assumption); the
    * manifest is untouched, so incremental ingest semantics survive
    * compaction unchanged.
    *
    * Sizing is driven by a driver-side file listing (a metadata op,
    * O(#files)): partitions get ceil(bytes/target) output files via
    * a salted repartition, so a hot partition still splits while
    * small ones collapse to one file. Returns the new file count. */
  def compact(spark: SparkSession, warehouseDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Long =
    // same lease as ingest: the swap and the crash-recovery renames
    // assume no other writer; a second compactor or a concurrent
    // ingest now fails loudly at acquisition
    withWriterLease(spark, warehouseDir)(compactLocked(spark, warehouseDir, targetFileBytes))

  private def compactLocked(spark: SparkSession, warehouseDir: String,
                            targetFileBytes: Long): Long = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(compoundsDir(warehouseDir))
    val fs = dir.getFileSystem(conf)
    val tmp = new Path(s"${compoundsDir(warehouseDir)}.compact_tmp")
    val old = new Path(s"${compoundsDir(warehouseDir)}.compact_old")
    // Leftovers mean a previous compaction crashed. Every crash
    // state is mechanically recoverable under the documented
    // single-writer assumption, so recover instead of refusing
    // (round 3 refused outright, which left a crash between the two
    // swap renames with NO table at the canonical path and no
    // automated way back):
    //  - dir present + tmp leftover (no old): crash before the swap
    //    began — dir is still the canonical full table; the rewrite
    //    is derived data, safe to discard and redo.
    //  - dir absent + old + tmp: crash BETWEEN the renames. tmp
    //    passed the row-preservation gate before the swap started,
    //    so completing the swap (tmp → dir, drop old) is exactly the
    //    interrupted operation.
    //  - dir present + old leftover + NO tmp: crash after the swap,
    //    before the cleanup delete (tmp is gone because the swap-in
    //    rename consumed it) — dir is the compacted full table;
    //    finish the delete.
    //  - dir present + old + tmp ALL exist: NOT a pure compact crash
    //    — the only writer that re-creates dir while old+tmp survive
    //    is an ingest that ran after a between-renames crash, so dir
    //    holds ONLY post-crash partitions while old/tmp hold the
    //    full pre-crash table. No mechanical merge is safe (blind
    //    restore would drop the manifested post-crash ingests; blind
    //    cleanup would delete the only full copies) — refuse loudly.
    //  - dir absent + old only: the stage-aside rename succeeded but
    //    the swap never started (or tmp was lost) — old IS the
    //    canonical table; restore it.
    if (fs.exists(old)) {
      if (fs.exists(dir)) {
        require(!fs.exists(tmp),
          s"compact: $dir, $old and $tmp all exist — an ingest ran after a mid-swap " +
            "compaction crash, so the canonical directory holds only post-crash " +
            "partitions. Manually merge (restore old, re-ingest the new partitions " +
            "from dir) before compacting again.")
        fs.delete(old, true)
      }
      else if (fs.exists(tmp)) {
        require(fs.rename(tmp, dir), s"compact: recovery could not complete swap $tmp -> $dir")
        fs.delete(old, true)
      } else require(fs.rename(old, dir), s"compact: recovery could not restore $old -> $dir")
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (!fs.exists(dir)) return 0L
    // bytes per partition directory (src_filename=<escaped value>) —
    // names must be UNESCAPED before matching against column VALUES
    // (Spark percent-escapes special chars in partition paths; a raw
    // compare would orphan those partitions' rows)
    val partSizes = fs.listStatus(dir).filter(_.isDirectory).map { st =>
      val name = st.getPath.getName
      val bytes = fs.listStatus(st.getPath).filter(_.isFile).map(_.getLen).sum
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(name.substring(name.indexOf('=') + 1)) -> bytes
    }.toSeq
    if (partSizes.isEmpty) return 0L
    val nOut = partSizes
      .map { case (p, b) => (p, math.max(1L, (b + targetFileBytes - 1) / targetFileBytes)) }
    val targets = nOut.toDF("src_filename", "n_out")
    val data = spark.read.parquet(dir.toString)
    // salt on a data column's hash: deterministic spread of a hot
    // partition across its n_out output files. LEFT join + coalesce:
    // a partition that somehow missed the sizing list still keeps
    // every row (in one file) rather than being dropped.
    val saltSrc = data.columns.find(_ != "src_filename")
      .getOrElse(sys.error("compact: no data columns"))
    val shuffleParts = math.max(spark.sparkContext.defaultParallelism.toLong,
      nOut.map(_._2).sum).min(Int.MaxValue).toInt
    data
      .join(broadcast(targets), Seq("src_filename"), "left")
      .withColumn("__salt", pmod(xxhash64(col(saltSrc)), coalesce(col("n_out"), lit(1L))))
      // explicit partition count: the default would cap the spread at
      // spark.sql.shuffle.partitions, merging salt groups of hot
      // partitions into files far above the target size
      .repartition(shuffleParts, col("src_filename"), col("__salt"))
      .drop("__salt", "n_out")
      .write.mode("overwrite").partitionBy("src_filename").parquet(tmp.toString)
    // row-preservation gate BEFORE the destructive swap: a rewrite
    // that lost rows (a future join/escape bug) must abort with both
    // directories intact, never replace the table
    val (nOld, nNew) = (data.count(), spark.read.parquet(tmp.toString).count())
    require(nOld == nNew, s"compact: rewrite has $nNew rows, source has $nOld — aborting, no swap")
    require(fs.rename(dir, old), s"compact: could not stage $dir aside")
    require(fs.rename(tmp, dir), s"compact: could not swap in $tmp")
    fs.delete(old, true)
    fs.listStatus(dir).filter(_.isDirectory)
      .map(p => fs.listStatus(p.getPath).count(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
      .sum
  }

  final case class RetractResult(partitionsRewritten: Seq[String],
                                 partitionsDropped: Seq[String],
                                 rowsRetracted: Long)

  /** Takedown for the compounds warehouse (round 18 — the
    * reference-surface symmetry of [[graft.operators.Retract]]):
    * delete a CID set from the published partitioned table and
    * repair the ingest manifest's per-file spans, WITHOUT touching
    * any partition the set does not hit.
    *
    * The takedown batch is a bounded, human-generated list
    * (thousands at most), so it rides as a broadcast relation. Work
    * is scoped by the same index the point lookup uses — the
    * manifest's [lowest_cid, highest_cid] spans: a broadcast range
    * join of the span table (file-count-sized) against the CID set
    * names the candidate source files, the scan prunes statically to
    * those partitions, and ONE pass over them yields, per file, the
    * retracted count and the survivors' new span. At 100 TB the data
    * read is O(partitions hit), never O(corpus).
    *
    * Repairs, in crash-safe order under the shared writer lease:
    *  1. partitions with survivors STAGE to a sibling tmp dir,
    *     where a delete-only row-count gate verifies the survivors
    *     before any live byte changes (round 19 — the r18 form
    *     checked after the commit, which detects but cannot
    *     prevent); only the verified staged bytes then commit via
    *     dynamic partition overwrite (per-write option — untouched
    *     partitions keep their files byte for byte);
    *  2. partitions emptied by the takedown are deleted outright;
    *  3. the manifest rewrites through a tmp + two-rename swap (the
    *     [[compact]] pattern): affected files keep their row and
    *     date_added but carry the survivors' lowest/highest span
    *     (null when emptied) and n_compounds — the row STAYS even at
    *     n_compounds = 0, because manifest presence is what makes
    *     re-ingest skip the file (the reference's own all-filtered
    *     semantics, utils.py:272); dropping it would resurrect the
    *     retracted rows on the next ingest run.
    * A crash between 1/2 and 3 leaves stale (wider) spans over
    * repaired data: lookups stay correct (spans are a prune, the pk
    * filter decides membership) and re-running retract converges —
    * including for a partition deleted before its manifest row was
    * repaired (the re-run detects the missing directory and repairs
    * the row to n_compounds = 0). */
  def retract(spark: SparkSession, warehouseDir: String, cids: Seq[Long],
              layout: LayoutSpec = LayoutSpec.default): RetractResult =
    withWriterLease(spark, warehouseDir)(retractLocked(spark, warehouseDir, cids, layout))

  private def retractLocked(spark: SparkSession, warehouseDir: String, cids: Seq[Long],
                            layout: LayoutSpec): RetractResult = {
    import spark.implicits._
    val pk = layout.columns.find(_.primaryKey).map(_.name)
      .getOrElse(layout.columns.head.name)
    val conf = spark.sparkContext.hadoopConfiguration
    val dataDir = new Path(compoundsDir(warehouseDir))
    val fs = dataDir.getFileSystem(conf)
    recoverManifestSwap(fs, warehouseDir)
    val m = manifest(spark, warehouseDir)
    if (!m.columns.contains("filename") || cids.isEmpty)
      return RetractResult(Nil, Nil, 0L)
    val ret = cids.toDF(pk)
    // span prune: candidate files, bounded by the manifest
    val cand = m.join(broadcast(ret),
        col("lowest_cid") <= col(pk) && col("highest_cid") >= col(pk), "left_semi")
      .select("filename").distinct().as[String].collect().toSeq
    if (cand.isEmpty) return RetractResult(Nil, Nil, 0L)
    val part = compounds(spark, warehouseDir)
      .filter(col("src_filename").isin(cand: _*))
    // one pass over the candidate partitions: per-file retracted
    // count + the survivors' replacement span
    val hitStats = part
      .join(broadcast(ret.withColumn("__ret", lit(1))), Seq(pk), "left")
      .groupBy(col("src_filename"))
      .agg(count(col("__ret")).as("n_ret"),
        count(when(col("__ret").isNull, 1)).as("n_kept"),
        min(when(col("__ret").isNull, col(pk))).as("new_lo"),
        max(when(col("__ret").isNull, col(pk))).as("new_hi"))
      .filter(col("n_ret") > 0)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toSeq
    // convergence for a prior mid-crash: a candidate file whose
    // manifest row still claims rows but whose partition directory
    // is GONE was emptied by an interrupted retract — repair its
    // row now (no data work left to do)
    val hitNames = hitStats.map(_._1).toSet
    val staleEmpty = m.filter(col("filename").isin(cand: _*) && col("n_compounds") > 0)
      .select("filename").as[String].collect().toSeq
      .filterNot(hitNames)
      .filterNot(f => fs.exists(partitionDir(dataDir, f)))
      .map(f => (f, 0L, 0L, Option.empty[Long], Option.empty[Long]))
    val stats = hitStats ++ staleEmpty
    if (stats.isEmpty) return RetractResult(Nil, Nil, 0L)
    val (rewritten, emptied) = stats.partition(_._3 > 0L)
      if (rewritten.nonEmpty) {
        val names = rewritten.map(_._1)
        // delete-only gate, BEFORE anything live changes (ADVICE
        // r18: the r18 form verified after the dynamic overwrite
        // had committed — detect, not prevent). Survivors stage to
        // a sibling tmp dir first; the count check runs against the
        // staged bytes, and only a verified stage is committed (the
        // commit re-reads the STAGED files, so the bytes that land
        // live are the bytes that passed the gate — and the
        // overwrite never reads the directory it rewrites). A crash
        // after the gate leaves either the old partitions (commit
        // not reached) or the verified survivors (idempotent
        // re-run); the tmp dir is derived data, deleted on entry.
        val stage = new Path(dataDir.toString + ".retract_stage")
        fs.delete(stage, true)
        part.filter(col("src_filename").isin(names: _*))
          .join(broadcast(ret), Seq(pk), "left_anti")
          .write.mode("overwrite")
          .partitionBy("src_filename")
          .parquet(stage.toString)
        // partition-column inference on the read-back could narrow
        // an all-digit filename to a numeric type, and a post-hoc
        // cast cannot restore the lexical form inference already
        // lost ('00123' infers as 123, casts back to '123' — the
        // commit would then write a NEW partition and leave the
        // retracted rows live in 'src_filename=00123'). An explicit
        // schema declaring src_filename string makes the partition
        // value round-trip byte-identically (ADVICE r19).
        val stageSchema = org.apache.spark.sql.types.StructType(part.schema.map(f =>
          if (f.name == "src_filename")
            f.copy(dataType = org.apache.spark.sql.types.StringType)
          else f))
        val stagedDf = spark.read.schema(stageSchema).parquet(stage.toString)
        val after = stagedDf.count()
        val want = rewritten.map(_._3).sum
        require(after == want,
          s"retract: staged rewrite holds $after rows, expected $want survivors — live data untouched")
        stagedDf.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("src_filename")
          .parquet(dataDir.toString)
        fs.delete(stage, true)
      }
      emptied.foreach { case (f, _, _, _, _) => fs.delete(partitionDir(dataDir, f), true) }
      // manifest repair through the tmp + swap pattern
      val repairs = stats.map { case (f, _, kept, lo, hi) =>
        (f, lo.map(long2Long).orNull, hi.map(long2Long).orNull, long2Long(kept))
      }.toDF("filename", "rep_lo", "rep_hi", "rep_n")
      val repaired = m.join(broadcast(repairs), Seq("filename"), "left")
        .select(col("filename"),
          when(col("rep_n").isNotNull, col("rep_lo")).otherwise(col("lowest_cid")).as("lowest_cid"),
          when(col("rep_n").isNotNull, col("rep_hi")).otherwise(col("highest_cid")).as("highest_cid"),
          col("date_added"),
          coalesce(col("rep_n"), col("n_compounds")).as("n_compounds"))
      val mDir = new Path(manifestDir(warehouseDir))
      val mTmp = new Path(manifestDir(warehouseDir) + ".retract_tmp")
      val mOld = new Path(manifestDir(warehouseDir) + ".retract_old")
      fs.delete(mTmp, true)
      repaired.write.mode("overwrite").parquet(mTmp.toString)
      require(fs.rename(mDir, mOld), s"retract: could not stage aside $mDir")
      require(fs.rename(mTmp, mDir), s"retract: could not swap in $mTmp")
      fs.delete(mOld, true)
      RetractResult(rewritten.map(_._1), emptied.map(_._1), stats.map(_._2).sum)
  }

  /** Crash recovery for [[retract]]'s manifest swap, run at entry
    * under the lease: the manifest rewrite is derived data until the
    * first rename, so every leftover state resolves mechanically
    * (the [[graft.sinks.ZOrder.reclusterZOrdered]] matrix — old
    * without canonical restores, anything else discards leftovers). */
  private def recoverManifestSwap(fs: org.apache.hadoop.fs.FileSystem,
                                  warehouseDir: String): Unit = {
    val mDir = new Path(manifestDir(warehouseDir))
    val mTmp = new Path(manifestDir(warehouseDir) + ".retract_tmp")
    val mOld = new Path(manifestDir(warehouseDir) + ".retract_old")
    if (fs.exists(mOld)) {
      if (!fs.exists(mDir)) {
        if (fs.exists(mTmp)) {
          require(fs.rename(mTmp, mDir), s"retract: recovery could not complete swap $mTmp -> $mDir")
          fs.delete(mOld, true)
        } else require(fs.rename(mOld, mDir), s"retract: recovery could not restore $mOld -> $mDir")
      } else fs.delete(mOld, true)
    }
    fs.delete(mTmp, true)
  }

  /** Publish the warehouse compounds as a BUCKETED catalog table:
    * co-locates rows by primary key so key-equi joins and lookups
    * against other tables bucketed the same way need NO shuffle —
    * the 100 TB substitute for the reference's SQLite indexes.
    * (Bucketed writes must go through the catalog; plain
    * `.parquet()` paths cannot carry bucket metadata.) */
  def publishBucketed(spark: SparkSession, warehouseDir: String, table: String,
                      buckets: Int = 16, key: String = "cid"): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // Repartitioned by the bucket key first: Spark's bucket id and
    // hash partitioning are the same Murmur3 pmod, so each write task
    // holds exactly one bucket and writes it as one file. A bucketed
    // write writes a file per bucket per task, so without the shuffle
    // a bucket is split over as many files as the input has
    // partitions, and a key lookup opens all of them.
    compounds(spark, warehouseDir)
      .repartition(buckets, col(key))
      .write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", s"$warehouseDir/bucketed_$table")
      .saveAsTable(table)
  }
}
