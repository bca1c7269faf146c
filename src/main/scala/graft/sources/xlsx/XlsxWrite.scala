package graft.sources.xlsx

import java.util.UUID

import graft.xlsx.{CellStyle, CellValue, ExcelDate, RawZipWriter, XlsxWriter, ZipRandom}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Write side of the xlsx DSv2: each partition streams rows through its own
  * [[graft.xlsx.XlsxWriter]] into `part-NNNNN-<uuid>.xlsx` under the output
  * directory — constant memory per task (the reference's core property,
  * ref: src/fast_writer/zero_temp_workbook.rs), unlimited scale via
  * parallel part files (the reference is single-threaded,
  * SURVEY §4.2 "Parallelism: None").
  *
  * Rows beyond Excel's 1,048,576-per-sheet limit roll into `<base>_2`,
  * `<base>_3`, … automatically — the reference silently writes invalid
  * files past the limit.
  *
  * `sheetColumn=<col>` is the Spark-native form of the reference's
  * `add_sheet("A"); rows; add_sheet("B"); rows` workflow
  * (ref: src/writer.rs:283-300, src/fast_writer/zero_temp_workbook.rs:43-70):
  * the Write declares a clustered distribution + in-partition sort on that
  * column via [[RequiresDistributionAndOrdering]], so Spark routes each
  * distinct value to one task in contiguous runs, and the writer opens a
  * new sheet named by the value whenever it changes — one named sheet per
  * value, streaming, at any scale.
  *
  * Commit protocol: writers create files directly under the output path
  * with task-unique names; Spark's commit coordinator guarantees a single
  * committed attempt per partition, and abort() deletes the orphan.
  * Truncate (SaveMode.Overwrite) clears `*.xlsx` in the directory first.
  */
final class XlsxWriteBuilder(
    schema: StructType,
    opts: XlsxOptions,
    path: String,
    conf: SerializableConfiguration
) extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    opts.sheetColumn.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"sheetColumn '$c' not in write schema ${schema.fieldNames.mkString("[", ", ", "]")}")
    }
    new Write with RequiresDistributionAndOrdering {
      override def toBatch: BatchWrite = new XlsxBatchWrite(schema, opts, path, conf, doTruncate)
      // Cluster + sort on sheetColumn so each sheet value reaches exactly
      // one task as one contiguous run; unspecified (= no-op) otherwise.
      override def requiredDistribution(): Distribution =
        opts.sheetColumn
          .map(c => Distributions.clustered(
            Array[org.apache.spark.sql.connector.expressions.Expression](Expressions.column(c))))
          .getOrElse(Distributions.unspecified())
      override def requiredOrdering(): Array[SortOrder] =
        opts.sheetColumn
          .map(c => Array(Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)))
          .getOrElse(Array.empty[SortOrder])
    }
  }
}

final class XlsxBatchWrite(
    schema: StructType,
    opts: XlsxOptions,
    path: String,
    conf: SerializableConfiguration,
    truncate: Boolean
) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (opts.singleFile) {
      val target = XlsxSingleFile.target(path)
      val fs = target.getFileSystem(conf.value)
      val parent = Option(target.getParent).getOrElse(new Path("."))
      fs.mkdirs(parent)
      if (truncate && fs.exists(target)) fs.delete(target, false)
      // sweep leftovers of a crashed earlier attempt
      if (fs.exists(parent)) fs.listStatus(parent).foreach { st =>
        if (st.isFile && st.getPath.getName.startsWith(XlsxSingleFile.fragPrefix(target)))
          fs.delete(st.getPath, false)
      }
    } else {
      val dir = new Path(path)
      val fs = dir.getFileSystem(conf.value)
      if (truncate && fs.exists(dir)) {
        fs.listStatus(dir).foreach { st =>
          if (st.isFile && st.getPath.getName.endsWith(".xlsx")) fs.delete(st.getPath, false)
        }
      }
      fs.mkdirs(dir)
    }
    // the session zone renders timestamps nested in complex-typed cells
    XlsxWriterFactory(schema, opts, path, conf, SQLConf.get.sessionLocalTimeZone)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (opts.singleFile)
      XlsxSingleFile.stitch(path, opts, schema,
        messages.collect { case m: XlsxFragMessage if m.file != null => m }, conf)

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    messages.foreach {
      case XlsxCommitMessage(file) if file != null => fs.delete(new Path(file), false)
      case XlsxFragMessage(file, _, _) if file != null => fs.delete(new Path(file), false)
      case _ =>
    }
  }
}

final case class XlsxCommitMessage(file: String) extends WriterCommitMessage

/** Commit metadata of one singleFile fragment: the task's workbook and
  * its sheet catalog as (name, rollover continuation) pairs, in sheet order. */
final case class XlsxFragMessage(
    file: String,
    partitionId: Int,
    sheets: Seq[(String, Boolean)]) extends WriterCommitMessage

/** Driver-side stitch of the parallel single-workbook write: each task has
  * written an ordinary workbook (a dot-prefixed fragment); the commit reads
  * each fragment's central directory ([[graft.xlsx.ZipRandom]]) and copies
  * its compressed `xl/worksheets/sheetN.xml` byte ranges into ONE .xlsx as
  * independent ZIP entries ([[graft.xlsx.RawZipWriter]]), generates the
  * package parts for the final sheet catalog, and writes the central
  * directory. O(bytes copied) driver work, zero recompression — the
  * compression cost (the expensive part) stayed on the executors.
  *
  * Sheet layout: without `sheetColumn`, every partition's sheets chain
  * into one logical sheet — named `base, base_2, …` and stamped as
  * rollover continuations (docProps/custom.xml), so the default read
  * reassembles exactly the written row order across partitions. With
  * `sheetColumn`, sheets keep their task-assigned key names (uniquified
  * across tasks) and only task-internal rollovers are stamped. Every sheet
  * of a fragment holds at least one data row: a task opens a sheet only
  * for a row (or at start), and a task without rows leaves no fragment. */
private[xlsx] object XlsxSingleFile {

  /** The one output workbook: `path` itself when it names a .xlsx file,
    * else `<path>/workbook.xlsx`. */
  def target(path: String): Path = {
    val p = new Path(path)
    if (p.getName.toLowerCase.endsWith(".xlsx")) p else new Path(p, "workbook.xlsx")
  }

  def fragPrefix(target: Path): String = "." + target.getName + ".frag-"

  def stitch(path: String, opts: XlsxOptions, schema: StructType,
      frags: Array[XlsxFragMessage], conf: SerializableConfiguration): Unit = {
    val out = target(path)
    val fs = out.getFileSystem(conf.value)
    val base = opts.sheet.getOrElse("Sheet1")
    if (frags.isEmpty) {
      // still produce a valid workbook: one empty sheet (header row only,
      // matching what a coalesce(1) write of an empty frame produces)
      val w = new XlsxWriter(fs.create(out, true), opts.compression)
      w.addSheet(new SheetNames().take(base))
      if (opts.header) w.writeHeaderBold(schema.fieldNames)
      w.close()
      return
    }
    val ordered = frags.sortBy(_.partitionId)
    val defaultMode = opts.sheetColumn.isEmpty
    val sheetNames = new SheetNames
    val names = Seq.newBuilder[String]
    val continuations = Seq.newBuilder[Int]
    val zw = new RawZipWriter(fs.create(out, true))
    var idx = 0
    val buf = new Array[Byte](256 * 1024)
    ordered.foreach { frag =>
      val file = new Path(frag.file)
      val in = XlsxTable.hadoopSeekable(fs, file, fs.getFileStatus(file).getLen)
      val entries = ZipRandom.entries(in).map(e => e.name -> e).toMap
      frag.sheets.zipWithIndex.foreach { case ((name, continuation), k) =>
        names += sheetNames.take(if (defaultMode) base else name)
        // default mode: the whole file is one logical sheet, so every
        // sheet after the first continues the chain; sheetColumn mode:
        // only task-internal rollovers do
        if (if (defaultMode) idx > 0 else continuation) continuations += idx
        val e = entries(s"xl/worksheets/sheet${k + 1}.xml")
        zw.addRawEntry(s"xl/worksheets/sheet${idx + 1}.xml", e.method,
          e.crc, e.compressedSize, e.uncompressedSize)
        val raw = ZipRandom.openRaw(in, e)
        try {
          var n = raw.read(buf)
          while (n >= 0) { zw.writePayload(buf, 0, n); n = raw.read(buf) }
        } finally raw.close()
        idx += 1
      }
    }
    XlsxWriter.packageParts(names.result(), continuations.result()).foreach { case (name, content) =>
      zw.addDeflated(name, content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        opts.compression)
    }
    zw.finish()
    zw.close()
    ordered.foreach(f => fs.delete(new Path(f.file), false))
  }
}

/** Excel's sheet-name rule, one instance per workbook: `[]:*?/\` become
  * `_`, at most 31 characters, and unique case-insensitively — a clash
  * takes the first free `_k` suffix (k = 2, 3, …), the name cut to fit.
  * Rollover continuations are named by the same suffixing. */
private[xlsx] final class SheetNames {
  private val used = scala.collection.mutable.Set.empty[String]
  // next suffix to try per cleaned name: every smaller one is already taken
  private val nextSuffix = scala.collection.mutable.Map.empty[String, Int]

  def take(requested: String): String = {
    val cleaned = {
      val c = requested.replaceAll("""[\[\]:*?/\\]""", "_").take(31)
      if (c.isEmpty) "Sheet" else c
    }
    var candidate = cleaned
    var n = nextSuffix.getOrElse(cleaned, 2)
    while (used.contains(candidate.toLowerCase)) {
      val suffix = s"_$n"
      candidate = cleaned.take(31 - suffix.length) + suffix
      n += 1
    }
    nextSuffix(cleaned) = n
    used += candidate.toLowerCase
    candidate
  }
}

final case class XlsxWriterFactory(
    schema: StructType,
    opts: XlsxOptions,
    path: String,
    conf: SerializableConfiguration,
    zoneId: String
) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new XlsxDataWriter(schema, opts, path, conf, partitionId, taskId, zoneId)
}

final class XlsxDataWriter(
    schema: StructType,
    opts: XlsxOptions,
    path: String,
    conf: SerializableConfiguration,
    partitionId: Int,
    taskId: Long,
    zoneId: String
) extends DataWriter[InternalRow] {

  // singleFile: this task's workbook is a FRAGMENT (dot-prefixed so
  // directory listings and globs skip it) whose sheets the driver's
  // commit stitches into the one target workbook.
  private val file =
    if (opts.singleFile) {
      val target = XlsxSingleFile.target(path)
      new Path(Option(target.getParent).getOrElse(new Path(".")),
        f"${XlsxSingleFile.fragPrefix(target)}p$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}")
    } else
      new Path(path, f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.xlsx")
  private val fs = file.getFileSystem(conf.value)
  private val writer = new XlsxWriter(fs.create(file, true), opts.compression)
  private val baseSheet = opts.sheet.getOrElse("Sheet1")
  private var rowsInSheet = 0L
  private var rowsTotal = 0L
  // Header occupies a row, so data rows per sheet shrink by one.
  private val rollover = math.max(1L, opts.maxRowsPerSheet - (if (opts.header) 1 else 0))
  private val fields = schema.fields
  // sheetColumn routing: stringified value of the routing column; rows
  // arrive clustered+sorted on it (RequiresDistributionAndOrdering above),
  // so a value change is a sheet boundary, never a revisit.
  private val sheetKeyOf: Option[InternalRow => String] = opts.sheetColumn.map { c =>
    val i = schema.fieldIndex(c)
    val dt = schema(i).dataType
    r => if (r.isNullAt(i)) "null" else String.valueOf(r.get(i, dt))
  }
  private var currentKey: String = null
  private val sheetNames = new SheetNames
  // (name, continuation) of every sheet opened: the singleFile commit catalog
  private var catalog = Vector.empty[(String, Boolean)]
  private val getters: Array[InternalRow => (CellValue, Int)] =
    fields.zipWithIndex.map { case (f, i) =>
      val base0 = XlsxDataWriter.getter(f.dataType, i, zoneId)
      // formulaPrefix: string cells starting with the prefix are written
      // as formula cells (prefix stripped — OOXML stores formulas without
      // the leading "="), covering the reference's CellValue::Formula
      // write surface (ref: src/fast_writer/zero_temp_workbook.rs:208-212)
      // from the DataFrame API, where no formula type exists.
      val base = (f.dataType, opts.formulaPrefix) match {
        case (StringType, Some(p)) => (r: InternalRow) =>
          base0(r) match {
            case (CellValue.Str(s), style) if s.startsWith(p) =>
              (CellValue.Formula(s.substring(p.length)), style)
            case other => other
          }
        case _ => base0
      }
      // Explicit per-column style (reference's write_row_styled surface,
      // ref: src/writer.rs write_row_styled) overrides the automatic one.
      opts.columnStyles.lift(i).filter(_ != 0) match {
        case Some(style) => (r: InternalRow) => (base(r)._1, style)
        case None        => base
      }
    }

  // With sheetColumn the first sheet's name comes from the first row, so
  // sheet creation is deferred to write(); otherwise open the base sheet
  // immediately (an empty partition still yields a valid empty workbook).
  if (sheetKeyOf.isEmpty) newSheet(baseSheet)

  /** Open a sheet named `name` under Excel's naming rule ([[SheetNames]]).
    * Rollover sheets are additionally stamped into docProps/custom.xml (via
    * `continuation = true`) so the read side keys on the stamp, not the
    * reconstructed naming rule. */
  private def newSheet(name: String, continuation: Boolean = false): Unit = {
    val unique = sheetNames.take(name)
    catalog :+= (unique -> continuation)
    writer.addSheet(unique,
      opts.columnWidths.zipWithIndex.map { case (w, i) => (i + 1, w) },
      opts.rowHeight, continuation)
    opts.protection.foreach(writer.protectSheet)
    if (opts.header) writer.writeHeaderBold(fields.map(_.name))
    rowsInSheet = 0L
  }

  override def write(row: InternalRow): Unit = {
    sheetKeyOf match {
      case Some(keyOf) =>
        val key = keyOf(row)
        if (currentKey == null || key != currentKey) { currentKey = key; newSheet(key) }
        else if (rowsInSheet >= rollover) newSheet(key, continuation = true)
      case None =>
        if (rowsInSheet >= rollover) newSheet(baseSheet, continuation = true)
    }
    writer.writeRowStyled(getters.iterator.map(_(row)))
    rowsInSheet += 1
    rowsTotal += 1
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    // An empty fragment has nothing to stitch. Clustered distribution can
    // leave a task with zero rows; in sheetColumn mode that file would be a
    // meaningless empty "Sheet1" — drop it rather than pollute the
    // named-sheet layout.
    val drop = rowsTotal == 0 && (opts.singleFile || sheetKeyOf.isDefined)
    if (drop) fs.delete(file, false)
    val committed = if (drop) null else file.toString
    if (opts.singleFile) XlsxFragMessage(committed, partitionId, catalog)
    else XlsxCommitMessage(committed)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Exception => }
    try fs.delete(file, false) catch { case _: Exception => }
  }

  override def close(): Unit = ()
}

object XlsxDataWriter {

  /** Spark internal value at ordinal i → (CellValue, styleId): the only
    * Spark → cell mapping. The DSv2 sink's tasks (plain and `singleFile`)
    * and `XlsxInMemory.workbookBytes` all write through it. Dates and
    * timestamps are written as Excel serials with the matching date style
    * so the read side's style heuristic recovers the type (write encoding
    * per ref: src/fast_writer/zero_temp_workbook.rs:171-213); a timestamp's
    * serial is its UTC wall clock ([[ExcelDate.fromEpochMicros]]). Complex
    * types (array, map, struct, …) become the string `CAST(col AS STRING)`
    * gives, nested timestamps rendered in `zoneId`, the session zone. */
  def getter(dt: DataType, i: Int, zoneId: String): InternalRow => (CellValue, Int) = dt match {
    case _: StringType => r =>
      if (r.isNullAt(i)) EmptyCell else (CellValue.Str(r.getUTF8String(i).toString), 0)
    case LongType    => r => if (r.isNullAt(i)) EmptyCell else (CellValue.IntVal(r.getLong(i)), 0)
    case IntegerType => r => if (r.isNullAt(i)) EmptyCell else (CellValue.IntVal(r.getInt(i).toLong), 0)
    case ShortType   => r => if (r.isNullAt(i)) EmptyCell else (CellValue.IntVal(r.getShort(i).toLong), 0)
    case ByteType    => r => if (r.isNullAt(i)) EmptyCell else (CellValue.IntVal(r.getByte(i).toLong), 0)
    case DoubleType  => r => if (r.isNullAt(i)) EmptyCell else (CellValue.FloatVal(r.getDouble(i)), 0)
    case FloatType   => r => if (r.isNullAt(i)) EmptyCell else (CellValue.FloatVal(r.getFloat(i).toDouble), 0)
    case BooleanType => r => if (r.isNullAt(i)) EmptyCell else (CellValue.BoolVal(r.getBoolean(i)), 0)
    case d: DecimalType => r =>
      if (r.isNullAt(i)) EmptyCell
      else (CellValue.FloatVal(r.getDecimal(i, d.precision, d.scale).toDouble), 0)
    case DateType => r =>
      if (r.isNullAt(i)) EmptyCell
      else {
        val ld = DateTimeUtils.daysToLocalDate(r.getInt(i))
        (CellValue.DateTime(ExcelDate.fromDate(ld).toDouble), CellStyle.DateDefault)
      }
    case TimestampType | TimestampNTZType => r =>
      if (r.isNullAt(i)) EmptyCell
      else (CellValue.DateTime(ExcelDate.fromEpochMicros(r.getLong(i))), CellStyle.DateTimestamp)
    case BinaryType => r =>
      if (r.isNullAt(i)) EmptyCell
      else (CellValue.Str(java.util.Base64.getEncoder.encodeToString(r.getBinary(i))), 0)
    case NullType => _ => EmptyCell
    case other =>
      val asString = Cast(BoundReference(i, other, nullable = true), StringType, Some(zoneId))
      r => if (r.isNullAt(i)) EmptyCell else (CellValue.Str(asString.eval(r).toString), 0)
  }

  private val EmptyCell: (CellValue, Int) = (CellValue.Empty, 0)
}
