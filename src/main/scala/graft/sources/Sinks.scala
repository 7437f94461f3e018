package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Output paths of the engine (SURVEY.md §2.1 sinks + the layouts a
  * 100 TB deployment actually needs):
  *
  *  - raw byte ingestion (S3: the reference persists an uploaded file
  *    then re-scans it, app.py:43-45);
  *  - plain / partitioned parquet — `partitionBy` gives directory
  *    partition pruning on read (filters on the partition column never
  *    touch non-matching files);
  *  - bucketed tables — `bucketBy` on a join key pre-shuffles data at
  *    write time so later equi-joins/aggregations on that key skip the
  *    exchange entirely (co-located join).
  */
object Sinks {

  /** S3 parity: persist received bytes, then scan through the normal
    * reader — upload-then-query. */
  def ingestCsvBytes(spark: SparkSession, bytes: Array[Byte],
                     destPath: String): DataFrame = {
    java.nio.file.Files.write(java.nio.file.Paths.get(destPath), bytes)
    Tables.loan(spark, destPath)
  }

  /** Hive-style partitioned parquet: one directory per distinct value
    * of `partitionCol`. Read-side filters on that column prune whole
    * directories (PartitionFilters in explain). Choose low-cardinality
    * columns; high-cardinality partitioning creates a small-file
    * explosion at scale. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(path)

  /** JSON-lines sink/source (interchange format; schema supplied on
    * read — never inferred in production paths). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJson(spark: SparkSession, path: String,
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC sink (second columnar format; same pushdown/pruning story as
    * parquet). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Single-writer ENFORCEMENT for append-maintained directories (the
    * dedup fingerprint/minhash sidecars, sketch sidecars, IVF index,
    * compaction): every appender documents a single-writer contract;
    * this turns it from documentation into a deterministic failure.
    *
    * Protocol: atomically create `<dir>.lock` (Hadoop
    * `create(overwrite = false)` — atomic on HDFS and object stores
    * with conditional puts) holding the writer's identity; run the
    * body; remove the marker. A SECOND writer — concurrent, or
    * retrying after a crash that left a stale marker — fails loud with
    * the holder's identity instead of silently double-admitting (the
    * failure mode of an unprotected sidecar: two concurrent ingests
    * both pass the anti-join, both append). The body's OWN failure
    * releases the lock (replays are already idempotent per each
    * appender's contract); only a hard crash leaves the marker, which
    * is exactly the torn-append case a human should inspect before
    * clearing with [[breakDirLock]]. */
  def withDirLock[T](spark: SparkSession, dir: String, op: String)
      (body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(dir + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (lock.getParent != null) fs.mkdirs(lock.getParent)
    val out =
      try fs.create(lock, false)
      catch {
        case e: java.io.IOException =>
          val holder =
            try {
              val in = fs.open(lock)
              try scala.io.Source.fromInputStream(in).mkString
              finally in.close()
            } catch { case _: java.io.IOException => "<unreadable>" }
          throw new IllegalStateException(
            s"$op: $dir is locked by another writer [$holder]. " +
              "Append-maintained dirs are single-writer; if the holder " +
              "crashed mid-append, inspect the dir for a torn append, " +
              "then clear the marker with Sinks.breakDirLock.", e)
      }
    // once the marker exists, EVERY exit path below must release it —
    // including a failure writing the holder identity itself
    try {
      try {
        out.write((s"$op@${java.net.InetAddress.getLocalHost.getHostName}" +
          s":pid${ProcessHandle.current().pid()}")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } finally out.close()
      body
    } finally { fs.delete(lock, false); () }
  }

  /** Spark's hidden-path rule (`HadoopFSUtils.shouldFilterOutPathName`,
    * which its file index applies to every listed name): names starting
    * with '.', names starting with '_' unless they contain '=' (a
    * partition directory such as `_shard_id=s0` is data), and
    * `*._COPYING_` files still being copied in. Spark's exception for
    * the `_metadata`/`_common_metadata` summary files is left out: they
    * are not data files. */
  private def hiddenName(n: String): Boolean =
    (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")

  /** Recursive listing of a dir's DATA files for the driver-side
    * parquet readers (ADVICE r18): skips any file whose path relative
    * to `dir` has a component Spark's file index would hide
    * ([[hiddenName]]). Filtering only the LEAF name is not enough: a
    * crashed Spark append leaves task files under
    * `_temporary/<attempt>/...` whose leaf names look like ordinary
    * parts, and a torn attempt file would make every footer/page read
    * throw (or, worse, an orphaned task-committed file would silently
    * double-count) until an operator hand-cleaned the dir.
    *
    * Walks `listStatus` depth-first, in listing order (the order of
    * `fs.listFiles(dir, true)`), without descending into hidden dirs,
    * as Spark's own file index lists. `listFiles` returns
    * `LocatedFileStatus`es, whose copy of a local file's permissions
    * runs one `ls -ld` child process per entry; `listStatus` reads
    * them only when asked. */
  private[graft] def listDataFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val base = fs.makeQualified(dir)
    val out = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
    def walk(d: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(d).foreach { st =>
        val shown = !hiddenName(st.getPath.getName)
        if (st.isDirectory) { if (shown) walk(st.getPath) }
        // a file `dir` lists as itself, whatever its name
        else if (st.isFile && st.getLen > 0 &&
            (shown || fs.makeQualified(st.getPath) == base)) out += st
      }
    walk(base)
    out.toSeq
  }

  /** The footer of ONE data file of a parquet file or dir, read
    * driver-side; None when the path is missing or holds no data file. */
  private[sources] def firstFooter(spark: SparkSession, dir: String)
      : Option[org.apache.parquet.hadoop.Footer] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) return None
    listDataFiles(fs, path).headOption.map { f =>
      val reader = openParquetFile(conf, f.getPath)
      try new org.apache.parquet.hadoop.Footer(f.getPath, reader.getFooter)
      finally reader.close()
    }
  }

  /** Opens one parquet file for a driver-side read with `conf`.
    * Parquet's entry points without a configuration
    * (`ParquetFileReader.open(InputFile)`, `ParquetReader.builder`)
    * build a fresh Hadoop `Configuration` per call, which re-parses
    * the default XML resources off the classpath: about 10 ms per
    * file against 1 ms here, paid several times per ingest. */
  private def openParquetFile(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path)
      : org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, file).build())

  /** Every row of one parquet data file as a parquet `Group`, with the
    * file's schema — the driver-side reader of metadata-sized files
    * (manifest rows, Gram moment rows), opened like
    * [[openParquetFile]]. */
  private[graft] def readParquetRows(spark: SparkSession,
      file: org.apache.hadoop.fs.Path)
      : (org.apache.parquet.schema.MessageType,
         Seq[org.apache.parquet.example.data.Group]) = {
    val reader = openParquetFile(spark.sparkContext.hadoopConfiguration, file)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val rows = scala.collection.mutable.ArrayBuffer[
        org.apache.parquet.example.data.Group]()
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = new org.apache.parquet.io.ColumnIOFactory()
          .getColumnIO(schema)
          .getRecordReader(pages, new org.apache.parquet.example.data.simple
            .convert.GroupRecordConverter(schema))
        (0L until pages.getRowCount).foreach(_ => rows += records.read())
        pages = reader.readNextRowGroup()
      }
      (schema, rows.toSeq)
    } finally reader.close()
  }

  /** `spark.read.parquet(dir)` without its schema-inference job: the
    * schema comes from ONE data file's footer, read driver-side — the
    * Spark schema stored in the footer, else the parquet schema
    * through Spark's own converter, made nullable. That is what the
    * inference job computes with schema merging off (it also reads a
    * single footer, but as a Spark job: 30–100 ms of fixed cost per
    * read). For dirs whose files share one schema: the engine's own
    * sidecars and tables, where [[TaggedSidecar.assertConsistent]] and
    * the appenders keep it so. A dir with no data file falls through
    * to the plain read (and its error). */
  private[graft] def readParquet(spark: SparkSession, dir: String)
      : DataFrame =
    firstFooter(spark, dir).map { footer =>
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .readSchemaFromFooter(footer,
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetToSparkSchemaConverter(
              org.apache.spark.sql.internal.SQLConf.get))
        .toNullable
    }.fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))

  /** Append `row` to the parquet dir `dir` as ONE file written
    * DRIVER-SIDE (optimization round 18): for a metadata-sized row a
    * Spark write job pays scheduler, task and committer overhead for a
    * few hundred bytes. The parquet schema comes from Spark's own
    * converter and the footer carries the Spark schema, so files from
    * here and from a Spark write of the same frame
    * ([[compactParquetDir]]) read back identically. Column types:
    * string, long, and decimals too wide for a long, which the
    * converter maps to fixed-length bytes (the unscaled value,
    * big-endian, sign-extended).
    *
    * The file is written behind a DOT-PREFIXED temp name and renamed
    * after close (ADVICE r18): a crash mid-write must not leave a torn
    * non-empty part file at a data name, which every later footer read
    * would throw on. Dot-prefixed files are invisible to every reader
    * (Spark's and [[listDataFiles]]), and the local/HDFS rename is
    * atomic. A temp left by a crash between close and rename is dead
    * and deleted here (ADVICE r19). The caller must hold the dir lock
    * ([[withDirLock]]), which serializes every writer of the dir. */
  private[graft] def appendRowDriverSide(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      row: org.apache.spark.sql.Row): Unit = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.mkdirs(dirPath)
    fs.listStatus(dirPath).map(_.getPath)
      .filter(f => f.getName.startsWith(".") && f.getName.endsWith(".inprogress"))
      .foreach(fs.delete(_, false))
    val message = new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter(org.apache.spark.sql.internal.SQLConf.get)
      .convert(schema)
    val group = new org.apache.parquet.example.data.simple.SimpleGroup(message)
    schema.fields.indices.filterNot(row.isNullAt).foreach { i =>
      val name = schema.fields(i).name
      val t = message.getType(i).asPrimitiveType()
      (row.get(i), t.getPrimitiveTypeName) match {
        case (s: String, BINARY) => group.append(name, s)
        case (l: Long, INT64) => group.append(name, l)
        case (d: java.math.BigDecimal, FIXED_LEN_BYTE_ARRAY) =>
          val scale = schema.fields(i).dataType
            .asInstanceOf[org.apache.spark.sql.types.DecimalType].scale
          val unscaled = d.setScale(scale).unscaledValue
          val minimal = unscaled.toByteArray
          val bytes = Array.fill[Byte](t.getTypeLength)(
            if (unscaled.signum < 0) -1 else 0)
          System.arraycopy(minimal, 0, bytes, bytes.length - minimal.length,
            minimal.length)
          group.append(name,
            org.apache.parquet.io.api.Binary.fromConstantByteArray(bytes))
        case (v, physical) => throw new IllegalArgumentException(
          s"Sinks.appendRowDriverSide: $name = $v as $physical")
      }
    }
    val base = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
    val tmp = new org.apache.hadoop.fs.Path(dirPath, s".$base.inprogress")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf) // see openParquetFile: no per-call Configuration
      .withType(message)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withExtraMetaData(java.util.Map.of(
        "org.apache.spark.sql.parquet.row.metadata", schema.json))
      .build()
    try writer.write(group) finally writer.close()
    val file = new org.apache.hadoop.fs.Path(dirPath, base)
    require(fs.rename(tmp, file),
      s"Sinks.appendRowDriverSide: rename $tmp -> $file failed")
  }

  /** Clear a stale writer marker left by a crashed appender — call
    * only after verifying the directory's last append isn't torn (each
    * appender's scaladoc states its crash ordering and the recoverable
    * direction). */
  def breakDirLock(spark: SparkSession, dir: String): Boolean = {
    val lock = new org.apache.hadoop.fs.Path(dir + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lock, false)
  }

  /** Wipe an index/sidecar directory AND its writer-lock marker ahead
    * of a from-scratch rebuild — the single shared wipe for every
    * bench/query harness that rebuilds a locked dir per run (round-10
    * ADVICE: the harnesses each hand-rolled this, and the ones that
    * deleted only the dir left a crashed prior build's stale lock
    * permanently failing the rebuild with "locked by another writer").
    * Deleting the lock is the deliberate harness semantic: these dirs
    * are single-tenant per bench process, so a surviving lock is by
    * definition stale, never a live writer. `extra` names sibling
    * artifacts keyed off the same dir (e.g. the `.bloom` twin of a
    * fingerprint sidecar). */
  def wipeForRebuild(spark: SparkSession, dir: String,
                     extra: String*): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    fs.delete(new org.apache.hadoop.fs.Path(dir + ".lock"), false)
    extra.foreach(e => fs.delete(new org.apache.hadoop.fs.Path(e), true))
  }

  /** Compact an append-accumulated parquet directory. Append-based
    * operators (the dedup fingerprint sidecar, IVF index appends) add
    * one file set per ingest; at 100 TB the small-files tax — one
    * object-store request per file on EVERY read — eventually
    * outweighs the reads the layout serves, and compaction is the
    * standard periodic fix.
    *
    * Rewrite: partitioned dirs are repartitioned ON the partition
    * columns, so each output directory is written by exactly one task
    * (one file per directory); unpartitioned dirs coalesce to
    * `coalesceTo` files, optionally sorted within partitions (row-group
    * min/max stats for later pruning). The swap is
    * write-tmp → rename-away → rename-in → drop-backup, so a crash at
    * any point leaves either the original or a complete backup
    * (`<dir>__compact_bak`) on disk to restore by hand — never a
    * half-written live dir. Same single-writer contract as the
    * appenders; readers must not hold the dir open across the swap. */
  def compactParquetDir(spark: SparkSession, dir: String,
                        partitionCols: Seq[String] = Nil,
                        coalesceTo: Int = 1,
                        sortCol: Option[String] = None,
                        transform: Option[DataFrame => DataFrame] = None)
      : Unit = withDirLock(spark, dir, "compactParquetDir") {
    import org.apache.spark.sql.functions.col
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir + "__compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(dir + "__compact_bak")
    // crash recovery BEFORE the cleanup deletes: a prior run that died
    // between rename(path → bak) and rename(tmp → path) leaves the live
    // dir missing while bak/tmp hold the only copies — deleting them
    // here would be permanent data loss on the natural retry. Restore
    // the backup first; only then is clearing leftovers safe.
    if (!fs.exists(path)) {
      require(fs.exists(bak),
        s"compactParquetDir: $dir does not exist and no backup at $bak — " +
          "refusing to compact a missing directory")
      require(fs.rename(bak, path),
        s"compactParquetDir: could not restore backup $bak to $dir")
    }
    fs.delete(tmp, true); fs.delete(bak, true)
    val df = transform.foldLeft(spark.read.parquet(dir))((d, f) => f(d))
    val shaped =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
      else sortCol.foldLeft(df.coalesce(coalesceTo))(
        (d, c) => d.sortWithinPartitions(col(c)))
    val writer = shaped.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(tmp.toString)
    require(fs.rename(path, bak), s"could not stage backup for $dir")
    require(fs.rename(tmp, path), s"could not swap compacted dir into $dir " +
      s"(original preserved at $bak)")
    fs.delete(bak, true)
    ()
  }
}
