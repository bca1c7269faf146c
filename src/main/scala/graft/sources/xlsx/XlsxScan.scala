package graft.sources.xlsx

import graft.xlsx.{CellValue, ExcelDate}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import java.util.OptionalLong

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Scan side of the xlsx DSv2. Column pruning
  * (`SupportsPushDownRequiredColumns`) skips Catalyst conversion for unread
  * columns — the reference always materializes every cell
  * (ref: src/streaming_reader.rs:593-724); we decode only what the plan
  * needs. A listing with at least as many files as the session's default
  * parallelism plans one InputPartition per file (parallel across files,
  * no driver-side open); a smaller one resolves sheets on the driver and
  * plans one per selected sheet, in sheet order, so a stitched or
  * multi-sheet workbook reads in parallel too. Sheets larger than
  * `splitBytes` additionally split into row ranges.
  */
final class XlsxScanBuilder(
    fullSchema: StructType,
    opts: XlsxOptions,
    paths: Seq[String],
    conf: SerializableConfiguration
) extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Preserve source column order; requiredSchema may reorder.
    val names = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => names.contains(f.name)))
  }

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    pushed = filters.filter(XlsxFilters.supported(_, fullSchema))
    // return EVERY filter as residual: the scan-side evaluation is a row
    // pre-skip (cells -> skip before Catalyst conversion), and keeping the
    // residual means it only ever has to be sound, not complete
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = {
    // a read field no cell maps to fails here, at planning, not in a task
    required.fields.foreach(XlsxPartitionReader.converter)
    new XlsxScan(fullSchema, required, opts, paths, conf, pushed)
  }
}

final class XlsxScan(
    fullSchema: StructType,
    required: StructType,
    opts: XlsxOptions,
    paths: Seq[String],
    conf: SerializableConfiguration,
    pushedFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
) extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val f = if (pushedFilters.isEmpty) ""
            else s" PushedFilters: [${pushedFilters.mkString(", ")}]"
    s"xlsx paths=${paths.mkString(",")} columns=${required.fieldNames.mkString(",")}$f"
  }

  // One listing per Scan instance, shared by statistics AND partition
  // planning — each used to re-list independently (and statistics built
  // a fresh object per call), so a 10k-file S3 tree paid thousands of
  // LIST requests two+ times per query.
  private lazy val listing: Seq[(String, Long)] =
    XlsxTable.listFilesWithSize(paths, conf.value)

  /** Compressed byte size from the file listing (free). Sheet XML deflates
    * 5-20x; materialized rows shed the XML tag overhead again, so 10x is
    * the safe middle for sizeInBytes — underestimating here can flip a
    * join to broadcast and OOM the driver, overestimating merely misses a
    * broadcast. (The split planner uses TRUE decompressed sizes from the
    * central directory; statistics stay listing-only so a 10k-file scan
    * costs no extra driver I/O.) */
  private lazy val stats: Statistics = {
    val bytes = listing.map(_._2).sum * 10
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
  }
  override def estimateStatistics(): Statistics = stats

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new XlsxScanMetrics.Rows, new XlsxScanMetrics.Bytes)

  override def planInputPartitions(): Array[InputPartition] = {
    // Many files: one partition per file; the sheet *spec* (not resolved
    // names) rides along and executors resolve it when they open the file
    // anyway. Resolving here would open every ZIP on the driver — 10k
    // files = 10k driver-side opens before the first task launches.
    //
    // Fewer files than task slots: that parallelism would go unused, so
    // resolve the sheets here and plan one task per sheet (one central-
    // directory and metadata read per file). Large sheets additionally
    // split into positional row ranges, so a single multi-GB sheet fans out
    // over the cluster instead of serializing into one task (the reference
    // is single-threaded here, ref: src/streaming_reader.rs:523-590).
    val resolve = listing.size < org.apache.spark.SparkContext.getOrCreate().defaultParallelism
    listing.flatMap { case (f, zipSize) =>
      val whole = Seq(XlsxInputPartition(f, opts.sheet, opts.sheetIndex, opts.allSheets))
      // cheap pre-filter on the compressed size so small files never cost
      // a driver-side open; 20x is a deliberately generous deflate-ratio
      // bound (numeric-heavy sheet XML compresses 10-20x) — files past it
      // get their TRUE decompressed sizes from the central directory in
      // planSplits, which makes the final split decision
      if (!resolve && (!opts.splitSheets || zipSize * 20L <= opts.splitBytes)) whole
      else scala.util.Try(planSplits(f)).getOrElse(whole)
      // a corrupt file is NOT dropped here even under ignoreCorruptFiles:
      // planning only ever falls back to the unsplit partition, and the
      // reader makes the skip/fail decision where the row error surfaces
    }.toArray
  }

  /** Sheet plan for one file: resolve sheets, one partition each; with
    * splitSheets, split any sheet whose decompressed XML exceeds splitBytes
    * into contiguous row ranges sized from a sampled rows-per-byte density.
    * Ranges partition [0, ∞) — the last is open-ended — so a density
    * misestimate skews range sizes but can never lose or duplicate a row. */
  private def planSplits(f: String): Seq[XlsxInputPartition] = {
    val reader = XlsxTable.openReader(f, conf.value)
    val sheets = XlsxTable.selectSheets(reader, opts.sheet, opts.sheetIndex, opts.allSheets)
    val byName = reader.sheetCatalog.toMap
    sheets.flatMap { s =>
      val entryBytes = byName.get(s).flatMap(reader.entrySize).getOrElse(0L)
      val nSplits =
        if (!opts.splitSheets) 1 else math.min(entryBytes / opts.splitBytes + 1, 4096L).toInt
      val estRows = if (nSplits > 1) reader.estimateRows(s, entryBytes).getOrElse(0L) else 0L
      if (nSplits <= 1 || estRows < 2L * nSplits)
        Seq(XlsxInputPartition(f, opts.sheet, opts.sheetIndex, allSheets = false,
          resolvedSheet = Some(s)))
      else {
        val rowsPerSplit = math.max(1L, estRows / nSplits + 1)
        (0 until nSplits).map { i =>
          XlsxInputPartition(f, opts.sheet, opts.sheetIndex, allSheets = false,
            resolvedSheet = Some(s), rowStart = i * rowsPerSplit,
            rowEnd = if (i == nSplits - 1) Long.MaxValue else (i + 1) * rowsPerSplit)
        }
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // Map each required field to its source CELL index once, at planning.
    // The sheetNameColumn is virtual (no cell behind it): indexed -1 and
    // filled by the reader from the sheet being streamed; cell indices
    // count data columns only, so a user schema placing the virtual
    // column anywhere still maps the data columns correctly.
    val cellIdx = fullSchema.fields
      .filterNot(f => opts.sheetNameColumn.contains(f.name))
      .zipWithIndex.map { case (f, i) => f.name -> i }.toMap
    val srcIdx = required.fields.map(f =>
      if (opts.sheetNameColumn.contains(f.name)) -1 else cellIdx(f.name))
    XlsxReaderFactory(required, srcIdx, opts.header, conf, pushedFilters,
      opts.ignoreCorruptFiles)
  }
}

/** One read task. Default = every selected sheet of one file. When
  * `resolvedSheet` is set the task reads exactly that sheet, restricted to
  * physical row indexes `[rowStart, rowEnd)` — the form planned for small
  * listings (one task per sheet) and for large sheets (row ranges). */
final case class XlsxInputPartition(
    file: String,
    sheet: Option[String],
    sheetIndex: Option[Int],
    allSheets: Boolean,
    resolvedSheet: Option[String] = None,
    rowStart: Long = 0L,
    rowEnd: Long = Long.MaxValue) extends InputPartition

final case class XlsxReaderFactory(
    required: StructType,
    srcIdx: Array[Int],
    header: Boolean,
    conf: SerializableConfiguration,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    ignoreCorruptFiles: Boolean = false
) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[XlsxInputPartition]
    new XlsxPartitionReader(p, required, srcIdx, header, conf.value, filters,
      ignoreCorruptFiles)
  }
}

/** Streams the selected sheets of one file (or one resolved sheet) as
  * InternalRows — constant memory, same profile as the reference's
  * RowIterator (ref: src/streaming_reader.rs:523-590). */
final class XlsxPartitionReader(
    partition: XlsxInputPartition,
    required: StructType,
    srcIdx: Array[Int],
    header: Boolean,
    conf: org.apache.hadoop.conf.Configuration,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    ignoreCorruptFiles: Boolean = false
) extends PartitionReader[InternalRow] {

  // Track the currently-open sheet iterator so close() can release its
  // ZIP/XML streams when Spark stops early (LIMIT, task kill) — relying on
  // exhaustion alone would leak a file descriptor per truncated read.
  private var openIter: graft.xlsx.XlsxReader.RowIter = _
  // rows decoded and sheet bytes inflated by the sheets already finished
  private var doneRows, doneBytes = 0L

  private def buildRows(): Iterator[Vector[CellValue]] = {
    val reader = XlsxTable.openReader(partition.file, conf)
    val sheets = partition.resolvedSheet match {
      case Some(s) => Seq(s) // resolved at planning
      case None =>
        XlsxTable.selectSheets(reader, partition.sheet, partition.sheetIndex, partition.allSheets)
    }
    sheets.iterator.flatMap { s =>
      val it = reader.rows(s, partition.rowStart, partition.rowEnd)
      if (openIter != null) { doneRows += openIter.rowsRead; doneBytes += openIter.bytesRead }
      openIter = it
      currentSheet = UTF8String.fromString(s)
      // the header row is physical row 0, so only the range containing it
      // skips one row; later splits start directly on data rows
      if (header && partition.rowStart == 0L && it.hasNext) it.next()
      it
    }
  }

  // ignoreCorruptFiles (off by default; follows Spark's global conf via
  // XlsxOptions): the partition's file is skipped — rows already emitted
  // stay emitted, the remainder is dropped with one executor-log warning,
  // matching spark.sql.files.ignoreCorruptFiles semantics for the built-in
  // sources. Granularity is the partition: xlsx is one ZIP, so a truncated
  // upload or bad central directory loses that workbook (or, when planning
  // gave each sheet its own task, that sheet's remainder), not the job.
  private val rows: Iterator[Vector[CellValue]] =
    if (!ignoreCorruptFiles) buildRows()
    else {
      def skip(e: Throwable): Iterator[Vector[CellValue]] = {
        XlsxPartitionReader.log.warn(
          s"skipping corrupt xlsx ${partition.file} (ignoreCorruptFiles): $e")
        Iterator.empty
      }
      val inner =
        try buildRows()
        catch { case scala.util.control.NonFatal(e) => skip(e) }
      // lookahead wrapper: ALL pulling (and therefore all parsing) happens
      // in hasNext, so a mid-sheet failure (malformed XML past row N) ends
      // the file cleanly — no phantom row, nothing thrown from next()
      new Iterator[Vector[CellValue]] {
        private var buf: Vector[CellValue] = _
        private var dead = false
        override def hasNext: Boolean = !dead && (buf != null || {
          try { if (inner.hasNext) { buf = inner.next(); true } else false }
          catch { case scala.util.control.NonFatal(e) => dead = true; skip(e); false }
        })
        override def next(): Vector[CellValue] =
          if (hasNext) { val r = buf; buf = null; r }
          else throw new NoSuchElementException("next on exhausted xlsx iterator")
      }
    }
  // Name of the sheet currently being streamed (set as each sheet opens);
  // backs the virtual sheetNameColumn (srcIdx -1).
  private var currentSheet: UTF8String = _
  private var current: InternalRow = _
  private val width = srcIdx.length
  private val converters: Array[CellValue => Any] =
    required.fields.map(XlsxPartitionReader.converter)
  // pushed-filter predicate trees over converted values; rows failing one
  // are skipped BEFORE the remaining columns convert and the row allocates
  private val compiled: Array[XlsxFilters.Pred] =
    XlsxFilters.compile(filters.toSeq, required)
  // positions each predicate needs, and the union (phase-2 skip set)
  private val predPositions: Array[Array[Int]] =
    compiled.map(_.positions.toArray)
  private val filtered: Array[Boolean] = {
    val a = new Array[Boolean](width)
    predPositions.foreach(_.foreach(p => a(p) = true))
    a
  }

  private def convertAt(i: Int, cells: Vector[CellValue]): Any = {
    val ci = srcIdx(i)
    if (ci == -1) currentSheet
    else if (ci < cells.size) converters(i)(cells(ci))
    else null
  }

  // scratch for phase-1 filter values: skipped rows allocate nothing.
  // stamp array memoizes which positions are converted for the CURRENT row
  // (early predicate failure leaves later predicates' columns unconverted)
  private val scratch = new Array[Any](width)
  private val stamp = new Array[Long](width)
  private var rowStamp = 0L

  override def next(): Boolean = {
    while (rows.hasNext) {
      val cells = rows.next()
      rowStamp += 1
      // phase 1: convert each predicate's columns on demand, skip row on
      // the first failing predicate
      var ok = true
      var f = 0
      while (ok && f < compiled.length) {
        val ps = predPositions(f)
        var k = 0
        while (k < ps.length) {
          val p = ps(k)
          if (stamp(p) != rowStamp) { scratch(p) = convertAt(p, cells); stamp(p) = rowStamp }
          k += 1
        }
        ok = compiled(f).eval(scratch)
        f += 1
      }
      if (ok) {
        // phase 2: convert the remaining columns into the row's own array
        val values = new Array[Any](width)
        var i = 0
        while (i < width) {
          values(i) =
            if (filtered(i) && stamp(i) == rowStamp) scratch(i)
            else convertAt(i, cells)
          i += 1
        }
        // wrap the array directly — InternalRow.fromSeq would copy it
        current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (openIter != null) openIter.close()

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    val open = Option(openIter)
    Array(
      XlsxScanMetrics.task(XlsxScanMetrics.RowsRead, doneRows + open.fold(0L)(_.rowsRead)),
      XlsxScanMetrics.task(XlsxScanMetrics.SheetBytes, doneBytes + open.fold(0L)(_.bytesRead)))
  }
}

/** Scan metrics, shown on the scan node in Spark's SQL UI and readable from
  * `BatchScanExec.metrics`: rows the sheet scanner decoded (header rows and
  * rows later dropped by pushed filters included) and inflated sheet XML
  * bytes. */
object XlsxScanMetrics {
  val RowsRead = "xlsxRowsRead"
  val SheetBytes = "xlsxSheetBytes"

  final class Rows extends CustomSumMetric {
    override def name(): String = RowsRead
    override def description(): String = "xlsx rows read"
  }

  final class Bytes extends CustomSumMetric {
    override def name(): String = SheetBytes
    override def description(): String = "xlsx sheet bytes inflated"
  }

  def task(metric: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metric
    override def value(): Long = v
  }
}

object XlsxPartitionReader {

  private[xlsx] val log = org.slf4j.LoggerFactory.getLogger(classOf[XlsxPartitionReader])

  /** CellValue → Catalyst *internal* value for one read-schema field;
    * lenient coercion per the reference (ref: src/types.rs:101-152),
    * mismatch → null. The only cell → Spark mapping: the batch scan's
    * reader and `graft.streaming.StreamingXlsx.readWorkbooks` both convert
    * through it. A field of a type no cell maps to (array, map, struct, …)
    * throws, naming the field; `XlsxScanBuilder.build` (for the pruned
    * read schema) and `readWorkbooks` build every read field's converter
    * on the driver first, so such a read fails before any task runs. */
  def converter(field: StructField): CellValue => Any = field.dataType match {
    case _: StringType => { // collated strings too
      case CellValue.Empty       => null
      case CellValue.DateTime(s) => UTF8String.fromString(ExcelDate.format(s).getOrElse(CellValue.formatDouble(s)))
      case c                     => UTF8String.fromString(c.asString)
    }
    case LongType    => c => c.asLong.orNull
    case IntegerType => c => c.asLong.map(_.toInt).orNull
    case ShortType   => c => c.asLong.map(_.toShort).orNull
    case ByteType    => c => c.asLong.map(_.toByte).orNull
    case DoubleType  => c => c.asDouble.orNull
    case FloatType   => c => c.asDouble.map(_.toFloat).orNull
    case BooleanType => c => c.asBool.orNull
    case d: DecimalType => c =>
      c.asDouble.map(v => org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(v).setScale(d.scale, java.math.RoundingMode.HALF_UP),
        d.precision, d.scale)).orNull
    case DateType    => c => serialOf(c).flatMap(ExcelDate.toDate).map(d => DateTimeUtils.localDateToDays(d)).orNull
    // NTZ and instant timestamps share the serial representation: xlsx
    // stores the UTC wall clock (ExcelDate's one timestamp rule)
    case TimestampType | TimestampNTZType => c =>
      serialOf(c).flatMap(ExcelDate.toEpochMicros).orNull
    // the write path (XlsxDataWriter.getter) Base64-encodes binary cells,
    // so decode here for a lossless roundtrip; foreign files with arbitrary
    // non-base64 text fall back to the raw UTF-8 bytes of the cell text.
    // Inherent ambiguity, accepted: foreign text that happens to BE valid
    // base64 ("cafe") decodes to different bytes — xlsx has no type marker
    // to distinguish; schema-as-binary on foreign text columns is the
    // caller asserting the cells hold encoded bytes
    case BinaryType => c =>
      if (c == CellValue.Empty) null
      else {
        val s = c.asString
        try java.util.Base64.getDecoder.decode(s)
        catch { case _: IllegalArgumentException =>
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
      }
    case NullType => _ => null
    case other => throw new IllegalArgumentException(
      s"xlsx cannot read field `${field.name}` as ${other.sql}: no cell maps to that type; " +
        "read it as STRING")
  }

  private def serialOf(c: CellValue): Option[Double] = c match {
    case CellValue.DateTime(s) => Some(s)
    case CellValue.IntVal(i)   => Some(i.toDouble)
    case CellValue.FloatVal(f) => Some(f)
    case CellValue.Str(s)      => s.toDoubleOption
    case _                     => None
  }
}
