package graft.xlsx

import java.io.InputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable.ArrayBuffer

/** Streaming XLSX reader: shared-strings table and sheet catalog are loaded
  * up front (they are the file's "dictionary" + metadata, ref:
  * src/streaming_reader.rs:181-205), then each sheet is scanned row-at-a-time
  * — constant memory in the number of rows.
  *
  * Sheet parts go through [[SheetScanner]], a byte-level scan of the
  * inflated XML in chunks like the reference's
  * (ref: src/streaming_reader.rs:523-724), robust to attribute order,
  * prefixes, entities and CDATA. The small metadata parts (workbook, rels,
  * styles, shared strings) use the JDK's StAX pull parser.
  *
  * Every part is opened by name from the ZIP central directory of `input`
  * through [[ZipRandom]], parsed once on first use: local files, Hadoop
  * streams (s3a/gs/hdfs) and in-memory bytes share this one reader,
  * replacing the reference's bespoke S3 download path
  * (ref: src/cloud/s3_reader.rs:131-199). An input whose central
  * directory does not parse fails on first use.
  *
  * `sstCacheId`, when given, names the file's content (path, length,
  * modification time); with the shared-strings entry's CRC-32 appended it
  * keys the process-wide shared-strings cache.
  */
final class XlsxReader(input: ZipRandom.SeekableInput, sstCacheId: Option[String] = None) {
  import XlsxReader._

  /** Sheet names in workbook order, resolved to their part paths
    * (ref: src/streaming_reader.rs:422-514). */
  lazy val sheetCatalog: Seq[(String, String)] = workbook._1

  /** One pass over xl/workbook.xml: the sheet catalog and the date1904 flag. */
  private lazy val workbook: (Seq[(String, String)], Boolean) = {
    val rels = withEntry("xl/_rels/workbook.xml.rels")(parseRels)
      .getOrElse(Map.empty)
    withEntry("xl/workbook.xml") { xr =>
      val sheets = ArrayBuffer.empty[(String, String)]
      var flag1904 = false
      while (xr.hasNext) {
        if (xr.next() == XMLStreamConstants.START_ELEMENT && xr.getLocalName == "sheet") {
          val name = attr(xr, "name").getOrElse("")
          val rid = attr(xr, "id").getOrElse("") // r:id resolved by local name
          val target = rels.getOrElse(rid, s"worksheets/sheet${sheets.size + 1}.xml")
          val path = if (target.startsWith("/")) target.substring(1) else s"xl/$target"
          sheets += ((name, path))
        } else if (xr.isStartElement && xr.getLocalName == "workbookPr")
          flag1904 = attr(xr, "date1904").exists(v => v == "1" || v == "true")
      }
      (sheets.toSeq, flag1904)
    }.getOrElse((Seq.empty, false))
  }

  def sheetNames: Seq[String] = sheetCatalog.map(_._1)

  /** Style indices whose number format is a date/time format, parsed
    * from xl/styles.xml (numFmts + cellXfs) — so FOREIGN stylesheets
    * (Excel, openpyxl, arbitrary cellXfs orderings) get correct date
    * detection, not just our own writer's layout. Built-in date numFmt
    * ids plus custom codes containing date/time tokens (quoted literals,
    * [brackets] and escapes stripped first — the standard heuristic).
    * Falls back to our writer's known indices when styles.xml is absent.
    * Beyond-reference robustness: the reference keys on raw style id
    * presence only (src/streaming_reader.rs:693-699). */
  lazy val dateStyleIds: Set[Int] = withEntry("xl/styles.xml") { xr =>
    val custom = scala.collection.mutable.Map.empty[Int, String]
    val xfFmts = ArrayBuffer.empty[Int]
    var inCellXfs = false
    while (xr.hasNext) {
      xr.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          xr.getLocalName match {
            case "numFmt" =>
              for (id <- attr(xr, "numFmtId").flatMap(_.toIntOption);
                   code <- attr(xr, "formatCode")) custom(id) = code
            case "cellXfs" => inCellXfs = true
            case "xf" if inCellXfs =>
              xfFmts += attr(xr, "numFmtId").flatMap(_.toIntOption).getOrElse(0)
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT if xr.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      }
    }
    xfFmts.zipWithIndex.collect {
      case (fmtId, idx) if XlsxReader.isDateFormat(fmtId, custom.get(fmtId)) => idx
    }.toSet
  }.getOrElse(DateStyles)

  /** `<Application>` name from docProps/app.xml, when present. Used to
    * recognize workbooks written by THIS library (rollover-continuation
    * detection is only safe against our own writer's naming rule). */
  lazy val application: Option[String] = withEntry("docProps/app.xml") { xr =>
    var app: Option[String] = None
    while (xr.hasNext) {
      if (xr.next() == XMLStreamConstants.START_ELEMENT && xr.getLocalName == "Application")
        app = Some(xr.getElementText)
    }
    app
  }.flatten

  /** Rollover-continuation stamp from docProps/custom.xml: the 0-based
    * indices of sheets our writer created by rolling past maxRowsPerSheet
    * (property `graftRollover`, comma-separated). `None` = part or
    * property absent (foreign file, or a graft file from before the stamp
    * existed); `Some(empty)` = stamped workbook with no rollover. Keying
    * the default read on this instead of the `_k` naming rule means a user
    * sheet literally named "X_2" can no longer spoof a continuation. */
  lazy val rolloverContinuations: Option[Set[Int]] =
    withEntry("docProps/custom.xml") { xr =>
      var stamp: Option[String] = None
      var inRollover = false
      while (xr.hasNext) {
        xr.next() match {
          case XMLStreamConstants.START_ELEMENT if xr.getLocalName == "property" =>
            inRollover = attr(xr, "name").contains("graftRollover")
          case XMLStreamConstants.START_ELEMENT if inRollover && xr.getLocalName == "lpwstr" =>
            stamp = Some(xr.getElementText)
            inRollover = false
          case _ =>
        }
      }
      stamp
    }.flatten.map { s =>
      s.split(',').iterator.map(_.trim).filter(t => t.nonEmpty && t.forall(_.isDigit))
        .map(_.toInt).toSet
    }

  /** Sheet 0 and the rollover continuations chained to it, in read order:
    * the one rule for that chain, shared by the default read
    * (`XlsxTable.selectSheets`) and [[XlsxAppend]].
    *  1. A stamped graft workbook: the unbroken run of sheets after sheet 0
    *     that [[rolloverContinuations]] marks.
    *  2. An unstamped graft workbook (written before the stamp existed):
    *     the names the writer's naming rule gives sheet 0's continuations,
    *     `base.take(31 - "_k".length) + "_k"` for k = 2, 3, …, in an
    *     unbroken run.
    *  3. Any other workbook: sheet 0 alone, whatever its other sheets are
    *     named. Empty for a workbook without sheets. */
  def firstSheetChain: Seq[String] = {
    val names = sheetNames
    if (names.isEmpty || !application.contains("graft")) names.take(1)
    else rolloverContinuations match {
      case Some(stamped) =>
        names.head +: Iterator.from(1).takeWhile(i => i < names.size && stamped(i))
          .map(names).toSeq
      case None =>
        val present = names.toSet
        names.head +: Iterator.from(2)
          .map { k => val suffix = s"_$k"; names.head.take(31 - suffix.length) + suffix }
          .takeWhile(present.contains).toSeq
    }
  }

  /** Mac-legacy 1904 date system (`<workbookPr date1904="1"/>`). Serials
    * in such workbooks count from 1904-01-01; we normalize them to the
    * 1900 system at parse time (+1462 days) so every downstream consumer
    * sees one epoch. Beyond-reference robustness: the reference ignores
    * the flag and mis-dates foreign Mac files by four years
    * (no `date1904` handling anywhere in its src/). */
  lazy val date1904: Boolean = workbook._2

  /** Full SST load including rich-text runs — every <t> inside an <si> is
    * concatenated (ref: src/streaming_reader.rs:363-416). With an
    * `sstCacheId`, the parsed table is shared process-wide (soft refs) so
    * N split tasks of one foreign file parse its SST once per executor JVM
    * instead of once per task — our own writer emits inline strings (no
    * SST), so this only matters for foreign-authored files. */
  lazy val sharedStrings: Vector[String] = sstCacheId match {
    // the CRC-32 pins content: a same-length rewrite within the mtime
    // granularity (1 s on S3) can never serve a stale string table
    case Some(id) =>
      val crc = entries.get("xl/sharedStrings.xml").fold(-1L)(_.crc)
      SstCache.getOrLoad(s"$id:$crc", loadSharedStrings())
    case None => loadSharedStrings()
  }

  private def loadSharedStrings(): Vector[String] =
    withEntry("xl/sharedStrings.xml") { xr =>
      val out = Vector.newBuilder[String]
      val sb = new java.lang.StringBuilder
      var inSi = false
      var inRPh = false // phonetic (furigana) runs are hints, not cell text
      while (xr.hasNext) {
        xr.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            xr.getLocalName match {
              case "si" => inSi = true; inRPh = false; sb.setLength(0)
              case "rPh" => inRPh = true
              case "t" if inSi && !inRPh => sb.append(xr.getElementText)
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT =>
            xr.getLocalName match {
              case "si" => out += sb.toString; inSi = false
              case "rPh" => inRPh = false
              case _ =>
            }
          case _ =>
        }
      }
      out.result()
    }.getOrElse(Vector.empty)

  /** Stream rows of one sheet. The returned iterator owns a stream; it is
    * closed automatically on exhaustion. Callers that may stop early
    * (e.g. LIMIT) must call `close()` — it is idempotent. */
  def rows(sheetName: String): XlsxReader.RowIter = rows(sheetName, 0L, Long.MaxValue)

  /** Stream a positional row range `[startRow, endRow)` of one sheet
    * (0-based physical `<row>` index, header included). Rows before
    * `startRow` are scanned without decoding a cell, and the stream closes
    * as soon as `endRow` is reached, so a task reading an early slice never
    * inflates the tail.
    * This is what lets one large sheet fan out across many Spark tasks:
    * each task pays inflate+tokenize for its prefix but full decode only
    * for its own slice. */
  def rows(sheetName: String, startRow: Long, endRow: Long): XlsxReader.RowIter = {
    val path = sheetCatalog.collectFirst { case (n, p) if n == sheetName => p }
      .getOrElse(throw new IllegalArgumentException(
        s"sheet '$sheetName' not found; sheets: ${sheetNames.mkString(", ")}"))
    rowsAt(path, startRow, endRow)
  }

  def rowsByIndex(i: Int): XlsxReader.RowIter = {
    require(i >= 0 && i < sheetCatalog.size, s"sheet index $i out of range")
    rowsAt(sheetCatalog(i)._2, 0L, Long.MaxValue)
  }

  /** Row/column extent by full scan, like the reference's dimensions()
    * (ref: src/streaming_reader.rs:255-266). */
  def dimensions(sheetName: String): (Long, Int) = {
    var nRows = 0L
    var maxCols = 0
    rows(sheetName).foreach { r => nRows += 1; maxCols = math.max(maxCols, r.size) }
    (nRows, maxCols)
  }

  private def rowsAt(path: String, startRow: Long, endRow: Long): XlsxReader.RowIter = {
    // metadata first: a failure loading it must not leave the entry open
    val (sst, d1904, styles) = (sharedStrings, date1904, dateStyleIds)
    openEntry(path).fold(XlsxReader.RowIter.empty)(
      new SheetScanner(_, sst, d1904, styles, startRow, endRow))
  }

  /** Planning aid for sheet splitting: estimate the number of `<row>`
    * elements from a bounded sample of the decompressed sheet XML. Reads at
    * most `sampleBytes`; if the whole entry fits in the sample the count is
    * exact, otherwise it extrapolates by `entrySize` (the decompressed size
    * from the ZIP central directory). Counts with the same scanner the
    * reader positions with, so planning counts and read-time row positions
    * can never disagree. */
  def estimateRows(sheetName: String, entrySize: Long, sampleBytes: Int = 256 * 1024): Option[Long] = {
    val path = sheetCatalog.collectFirst { case (n, p) if n == sheetName => p }
    path.flatMap(openEntry).map { in =>
      val sc = new SheetScanner(in, Vector.empty, false, Set.empty, sampleBytes = sampleBytes)
      try {
        val count = sc.countRows()
        if (sc.exhausted || sc.bytesRead == 0) count
        else math.max(count, count * entrySize / sc.bytesRead)
      } finally sc.close()
    }
  }

  // --- ZIP plumbing -------------------------------------------------------

  private lazy val entries: Map[String, ZipRandom.Entry] =
    ZipRandom.entries(input).map(e => e.name -> e).toMap

  /** Decompressed size of one part, from the central directory. */
  private[graft] def entrySize(part: String): Option[Long] =
    entries.get(part).map(_.uncompressedSize)

  private def openEntry(name: String): Option[InputStream] =
    entries.get(name).map(ZipRandom.openEntry(input, _))

  private def withEntry[T](name: String)(f: XMLStreamReader => T): Option[T] =
    openEntry(name).map { in =>
      try {
        val xr = factory.createXMLStreamReader(in)
        try f(xr) finally xr.close()
      } finally in.close()
    }

  private def parseRels(xr: XMLStreamReader): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    while (xr.hasNext) {
      if (xr.next() == XMLStreamConstants.START_ELEMENT && xr.getLocalName == "Relationship") {
        for (id <- attr(xr, "Id"); t <- attr(xr, "Target")) m += (id -> t)
      }
    }
    m.result()
  }
}

/** Process-wide SST cache: soft references let the GC reclaim tables under
  * pressure; keys carry file length + modification time so a rewritten
  * file can never serve a stale table. */
private[xlsx] object SstCache {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.ref.SoftReference[Vector[String]]]

  def getOrLoad(key: String, load: => Vector[String]): Vector[String] = {
    val ref = cache.get(key)
    val hit = if (ref == null) null else ref.get()
    if (hit != null) hit
    else {
      val v = load
      cache.put(key, new java.lang.ref.SoftReference(v))
      // opportunistic sweep of GC-cleared refs so the map can't grow
      // unboundedly over a long-lived executor
      if (cache.size() > 256) {
        val it = cache.entrySet().iterator()
        while (it.hasNext) if (it.next().getValue.get() == null) it.remove()
      }
      v
    }
  }
}

object XlsxReader {

  /** Row iterator owning its ZIP/XML streams; close() is idempotent and
    * called automatically on exhaustion. `rowsRead` counts the rows decoded
    * and `bytesRead` the inflated sheet bytes pulled, so far. */
  trait RowIter extends Iterator[Vector[CellValue]] with AutoCloseable {
    def rowsRead: Long = 0L
    def bytesRead: Long = 0L
  }

  object RowIter {
    val empty: RowIter = new RowIter {
      override def hasNext: Boolean = false
      override def next(): Vector[CellValue] = throw new NoSuchElementException
      override def close(): Unit = ()
    }
  }

  def forFile(path: String): XlsxReader = forFile(path, useSstCache = false)

  def forFile(path: String, useSstCache: Boolean): XlsxReader = {
    val f = new java.io.File(path)
    new XlsxReader(ZipRandom.SeekableInput.forFile(path),
      if (useSstCache) Some(s"$path:${f.length}:${f.lastModified}") else None)
  }

  def forBytes(bytes: Array[Byte]): XlsxReader =
    new XlsxReader(ZipRandom.SeekableInput.forBytes(bytes))

  private val factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f
  }

  private def attr(xr: XMLStreamReader, localName: String): Option[String] = {
    var i = 0
    while (i < xr.getAttributeCount) {
      if (xr.getAttributeLocalName(i) == localName) return Some(xr.getAttributeValue(i))
      i += 1
    }
    None
  }

  /** Style ids our stylesheet uses for dates (CellStyle.DateDefault /
    * DateTimestamp / DateTimeShort). The reference treats *any* styled
    * integral numeric in [1, 2958465] as a date
    * (ref: src/streaming_reader.rs:693-699); restricting to the known date
    * styles avoids misreading styled plain numbers — a documented
    * deviation (SURVEY §7.5 spirit). */
  private val DateStyles = Set(CellStyle.DateDefault, CellStyle.DateTimestamp, CellStyle.DateTimeShort)

  /** OOXML built-in date/time numFmt ids (ECMA-376 §18.8.30). */
  private val BuiltinDateFmts: Set[Int] =
    ((14 to 22) ++ (27 to 36) ++ (45 to 47) ++ (50 to 58)).toSet

  /** Date-ness of a number format: built-in date id, or a custom code
    * containing y/m/d/h/s tokens once quoted literals ("..."), bracket
    * sections ([Red], [$USD], conditions) and escaped chars are
    * stripped. Elapsed-time codes like [h]:mm:ss lose the bracketed [h]
    * but still match via their mm/ss tokens. */
  private[xlsx] def isDateFormat(id: Int, code: Option[String]): Boolean =
    BuiltinDateFmts(id) || code.exists { c =>
      val bare = c.replaceAll("\"[^\"]*\"", "")
        .replaceAll("\\[[^\\]]*\\]", "")
        .replaceAll("\\\\.", "")
      bare.exists(ch => ch == 'y' || ch == 'Y' || ch == 'm' || ch == 'M'
        || ch == 'd' || ch == 'D' || ch == 'h' || ch == 'H' || ch == 's' || ch == 'S')
    }
}
