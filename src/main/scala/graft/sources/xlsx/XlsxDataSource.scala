package graft.sources.xlsx

import java.util

import scala.jdk.CollectionConverters._

import graft.xlsx.{XlsxReader, ZipRandom}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** `spark.read.format("xlsx")` / `df.write.format("xlsx")`.
  *
  * A directory of `part-*.xlsx` files is one dataset (Spark-idiomatic; a
  * single .xlsx is a single ZIP and therefore a single writer stream — see
  * SURVEY §7.4). Reading accepts a file, a directory, or a glob; every
  * file becomes one input partition (every selected sheet, when there are
  * fewer files than task slots), so a 1000-executor cluster scans a
  * 10k-file dataset fully in parallel.
  *
  * Replaces the reference's reader/writer pairs for local disk
  * (ref: src/streaming_reader.rs, src/fast_writer/zero_temp_workbook.rs),
  * S3 (ref: src/cloud/s3_reader.rs, s3_writer.rs), GCS
  * (ref: src/cloud/gcs_writer.rs) and HTTP buffers
  * (ref: src/cloud/http_writer.rs): the Hadoop FileSystem API gives all
  * of those schemes one code path (file:// s3a:// gs:// hdfs://), with
  * multipart upload handled by the filesystem connector.
  */
final class XlsxDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xlsx"

  // Spark passes the user schema (or the write schema) instead of calling
  // inferSchema when this returns true and a schema is available.
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XlsxTable.inferSchema(options)

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new XlsxTable(schema, XlsxOptions.fromMap(properties), XlsxTable.paths(properties))
}

object XlsxTable {

  def hadoopConf(): Configuration =
    SparkContext.getOrCreate().hadoopConfiguration

  def paths(properties: util.Map[String, String]): Seq[String] = {
    val m = properties.asScala
    m.get("paths")
      .map(p => p.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
      .orElse(m.get("path").map(Seq(_)))
      .getOrElse(Seq.empty)
  }

  /** Expand files/dirs/globs to concrete .xlsx (path, byteSize) pairs —
    * sizes come free from the listing and feed scan statistics.
    * Directories descend recursively (like Spark's built-in file
    * sources), so partitioned layouts — `out/window=X/etype=Y/part.xlsx`
    * from per-key streaming delivery, or any hive-style nesting — read
    * with a plain `load(out)`; `_`-prefixed names (metadata, markers)
    * are skipped at every level. */
  def listFilesWithSize(paths: Seq[String], conf: Configuration): Seq[(String, Long)] =
    paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val matched = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      if (matched.isEmpty && !fs.exists(path))
        throw new IllegalArgumentException(s"xlsx path does not exist: $p")
      def descendDir(st: org.apache.hadoop.fs.FileStatus): Seq[(String, Long)] =
        fs.listStatus(st.getPath).toSeq
          .filter(!_.getPath.getName.startsWith("_"))
          .flatMap { f =>
            if (f.isDirectory) descendDir(f)
            else if (f.getPath.getName.toLowerCase.endsWith(".xlsx"))
              Seq((f.getPath.toString, f.getLen))
            else Seq.empty
          }
      matched.flatMap { st =>
        // explicitly-matched files are taken as-is (any extension);
        // directories filter their trees to .xlsx
        if (st.isDirectory) descendDir(st) else Seq((st.getPath.toString, st.getLen))
      }
    }.sortBy(_._1)

  def listFiles(paths: Seq[String], conf: Configuration): Seq[String] =
    listFilesWithSize(paths, conf).map(_._1)

  /** One ZIP reader on every scheme; the only choice is the byte source:
    * a local file read in place, or ranged reads over the seekable Hadoop
    * stream. A file whose central directory does not parse fails the read
    * (or is skipped under `ignoreCorruptFiles`) whatever its scheme. */
  def openReader(file: String, conf: Configuration): XlsxReader = {
    val path = new Path(file)
    val uri = path.toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      XlsxReader.forFile(uri.getPath, useSstCache = true)
    else {
      val fs = path.getFileSystem(conf)
      val status = fs.getFileStatus(path)
      new XlsxReader(hadoopSeekable(fs, path, status.getLen),
        Some(s"$file:${status.getLen}:${status.getModificationTime}"))
    }
  }

  /** Positional-read adapter over a Hadoop file: every access is an
    * independent ranged read (the S3A GET-with-Range pattern), so one
    * instance may back many concurrent entry streams. */
  private[xlsx] def hadoopSeekable(fs: FileSystem, path: Path, len: Long): ZipRandom.SeekableInput =
    new ZipRandom.SeekableInput {
      override val length: Long = len
      override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
        val in = fs.open(path)
        try in.readFully(pos, buf, off, len) finally in.close()
      }
      override def openAt(pos: Long): java.io.InputStream = {
        val in = fs.open(path)
        in.seek(pos)
        in
      }
    }

  /** Select sheet names for one file per options (default: first sheet,
    * like the reference's rows_by_index(0) common path — PLUS any rollover
    * continuations our own writer produced for it).
    *
    * The writer silently rolls rows past `maxRowsPerSheet` into
    * continuation sheets; a default read that stopped at the first sheet
    * would silently drop everything past sheet 1 (caught by the sf1 scale
    * audit, round 7). The chain is [[XlsxReader.firstSheetChain]]: the
    * write-time stamp (docProps/custom.xml `graftRollover`) when present —
    * exact, a user sheet literally named "X_2" cannot spoof it — else the
    * writer's `_k` naming rule for pre-stamp graft files.
    *
    * Foreign workbooks always read exactly their first sheet, whatever
    * their second sheet is named. sheetColumn datasets should be read
    * with allSheets + sheetNameColumn, which is lossless. An explicit
    * `sheet` / `sheetIndex` selection stays single-sheet: naming one
    * sheet is an explicit request for that sheet only. */
  def selectSheets(
      reader: XlsxReader,
      sheet: Option[String],
      sheetIndex: Option[Int],
      allSheets: Boolean): Seq[String] = {
    val names = reader.sheetNames
    if (names.isEmpty) Seq.empty
    else if (allSheets) names
    else sheet match {
      case Some(s) =>
        if (!names.contains(s))
          throw new IllegalArgumentException(s"sheet '$s' not found; sheets: ${names.mkString(", ")}")
        Seq(s)
      case None if sheetIndex.isDefined => Seq(names(sheetIndex.get))
      case None => reader.firstSheetChain
    }
  }

  /** Infer by sampling up to `inferSchemaRows` data rows, continuing into
    * subsequent files/sheets while the budget is unspent: with one wide file
    * that is one footer read; with many tiny part files (a streaming sink's
    * layout) the sample spans files, so per-file type ambiguities (a
    * midnight timestamp is date-shaped in isolation) promote correctly in
    * the lattice. Driver cost is bounded by the row budget, never the
    * dataset; supply an explicit schema to skip sampling entirely at scale. */
  def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = XlsxOptions(options)
    val conf = hadoopConf()
    val files = listFiles(paths(options.asCaseSensitiveMap()), conf)
    require(files.nonEmpty, "no .xlsx files found to infer schema from")
    // Budget >= 1 so the first sheet is always opened (header names).
    val budget = math.max(1, opts.inferSchemaRows)
    val acc = new SchemaInference.Acc(opts.header)
    val remaining = files.iterator
    var first = true
    var readable = 0
    while (remaining.hasNext && acc.sampled < budget) {
      val file = remaining.next()
      // under ignoreCorruptFiles an unreadable workbook is skipped here
      // too — otherwise inference fails the job before the scan's own
      // skip logic ever runs; at least one file must still sample
      try {
        val reader = openReader(file, conf)
        val sheets = selectSheets(reader, opts.sheet, opts.sheetIndex, opts.allSheets)
        if (first) require(sheets.nonEmpty, s"workbook has no sheets: $file")
        first = false
        val sheetIt = sheets.iterator
        while (sheetIt.hasNext && acc.sampled < budget) {
          val it = reader.rows(sheetIt.next())
          try acc.add(it, budget)
          finally it.close() // sampling rarely exhausts the sheet
        }
        readable += 1
      } catch {
        case scala.util.control.NonFatal(e) if opts.ignoreCorruptFiles =>
          XlsxPartitionReader.log.warn(
            s"skipping corrupt xlsx $file during schema inference (ignoreCorruptFiles): $e")
      }
    }
    if (opts.ignoreCorruptFiles && readable == 0)
      throw new IllegalArgumentException(
        s"all ${files.size} xlsx file(s) were unreadable; cannot infer a schema " +
          "(ignoreCorruptFiles skips corrupt files but needs at least one readable one)")
    val inferred = acc.result()
    // sheetNameColumn: provenance column appended AFTER the data columns,
    // the DSv2 form of the reference's per-sheet iteration
    // (sheet_names() + rows(sheet), ref: src/streaming_reader.rs:345-351).
    opts.sheetNameColumn match {
      case Some(c) =>
        require(!inferred.fieldNames.contains(c),
          s"sheetNameColumn '$c' collides with a data column")
        inferred.add(org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.StringType, nullable = false))
      case None => inferred
    }
  }
}

final class XlsxTable(tableSchema: StructType, opts: XlsxOptions, tablePaths: Seq[String])
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"xlsx(${tablePaths.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = XlsxTable.hadoopConf()
    new XlsxScanBuilder(tableSchema, XlsxOptions(options), tablePaths, new SerializableConfiguration(conf))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(tablePaths.size == 1, "xlsx write requires exactly one output path")
    new XlsxWriteBuilder(info.schema(), XlsxOptions(info.options()), tablePaths.head,
      new SerializableConfiguration(XlsxTable.hadoopConf()))
  }
}
