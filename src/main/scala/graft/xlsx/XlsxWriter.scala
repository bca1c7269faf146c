package graft.xlsx

import java.io.OutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Streaming XLSX workbook writer: rows are serialized to worksheet XML in a
  * reused buffer and deflated straight into the workbook's ZIP entry through
  * [[RawZipWriter]] — constant memory regardless of row count, no temp
  * files, and identical bytes for identical rows (pinned ZIP timestamps).
  * Outside a Spark task, at level ≥ 1, the calling thread encodes rows
  * while the sheet deflates in 128 KiB blocks on up to 4 shared threads
  * (the block entry in [[RawZipWriter]]); inside a task it is one
  * sequential deflate stream.
  *
  * Behavior mirrors the reference's zero-temp writer
  * (ref: src/fast_writer/zero_temp_workbook.rs): inline strings instead of a
  * shared-strings table (:112-116, :487-500 — a cross-partition SST dedup
  * would force a shuffle, so the inline choice is also what makes
  * partition-parallel writes possible), identical fixed styles.xml
  * (:434-485), deflate levels 0-9 (ref: src/writer.rs:64-91), and the full
  * package-part set at close (:300-532). Unlike the reference's S3 variant
  * (ref: src/cloud/s3_writer.rs:362-396) we always emit the complete
  * package including sharedStrings and docProps.
  *
  * Works over any OutputStream: local file, ByteArrayOutputStream (the
  * reference's HTTP writer, ref: src/cloud/http_writer.rs), or a Hadoop
  * FSDataOutputStream (s3a/gs/hdfs — multipart streaming handled by the
  * filesystem layer, replacing ref: src/cloud/s3_writer.rs).
  */
final class XlsxWriter(out: OutputStream, compressionLevel: Int = 6) {
  require(compressionLevel >= 0 && compressionLevel <= 9, "compression level 0-9")

  private val zip = new RawZipWriter(out)
  private var entry: OutputStream = _ // the open sheet's ZIP entry
  private val sb = new java.lang.StringBuilder(4096) // reused row buffer
  // Column letters repeat every row — compute each once per writer.
  private val letterCache = new scala.collection.mutable.ArrayBuffer[String](64)
  private var sheetNames = Vector.empty[String]
  private var continuations = Vector.empty[Int] // 0-based rollover sheet indices
  private var inSheet = false
  private var currentRow = 0 // 1-based row counter within current sheet
  private var protection: Option[ProtectionOptions] = None
  private var closed = false

  def sheets: Seq[String] = sheetNames
  def rowsInCurrentSheet: Int = currentRow

  /** Start a new worksheet; finishes the previous one.
    *
    * `colWidths` emits a real `<cols>` element (1-based column → width in
    * Excel character units). `defaultRowHeight` emits `<sheetFormatPr>` so
    * every row of the sheet renders at that height without per-row cost.
    * The reference's `set_column_width` / `set_next_row_height` are silent
    * no-op stubs (ref: src/fast_writer/ultra_low_memory.rs:74-82) —
    * implemented for real here, a documented deviation (SURVEY §7.5).
    *
    * `continuation` marks this sheet as a rollover continuation of the
    * sheet before it (rows past maxRowsPerSheet). The indices are stamped
    * into docProps/custom.xml at close so readers can reassemble the
    * logical sheet WITHOUT inferring chains from the `_k` naming rule
    * (which a user sheet literally named "X_2" would spoof). */
  def addSheet(name: String, colWidths: Seq[(Int, Double)] = Nil,
      defaultRowHeight: Option[Double] = None, continuation: Boolean = false): Unit = {
    finishSheet()
    sheetNames :+= name
    if (continuation) {
      require(sheetNames.size > 1, "first sheet cannot be a rollover continuation")
      continuations :+= sheetNames.size - 1
    }
    entry = zip.openEntry(s"xl/worksheets/sheet${sheetNames.size}.xml", compressionLevel)
    write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""")
    // schema order: sheetFormatPr precedes cols precedes sheetData
    defaultRowHeight.foreach { h =>
      write(s"""<sheetFormatPr defaultRowHeight="$h" customHeight="1"/>""")
    }
    if (colWidths.nonEmpty) {
      sb.setLength(0)
      sb.append("<cols>")
      colWidths.foreach { case (col1, width) =>
        sb.append("<col min=\"").append(col1).append("\" max=\"").append(col1)
          .append("\" width=\"").append(width).append("\" customWidth=\"1\"/>")
      }
      sb.append("</cols>")
      write(sb.toString)
    }
    write("<sheetData>")
    inSheet = true
    currentRow = 0
    protection = None
  }

  def protectSheet(opts: ProtectionOptions): Unit = {
    require(inSheet, "no worksheet started")
    protection = Some(opts)
  }

  /** Write one row of plain strings (empty string -> empty cell),
    * mirroring write_row (ref: zero_temp_workbook.rs:77-130). */
  def writeRow(values: IterableOnce[String]): Unit = {
    startRow()
    var col = 0
    values.iterator.foreach { v =>
      openCell(col)
      if (v == null || v.isEmpty) sb.append("\"/>")
      else {
        sb.append("\" t=\"inlineStr\"><is><t>")
        Xml.escapeInto(sb, v)
        sb.append("</t></is></c>")
      }
      col += 1
    }
    endRow()
  }

  /** Write one row of typed cells with optional styles, mirroring
    * write_row_styled (ref: zero_temp_workbook.rs:133-225). */
  def writeRowStyled(cells: IterableOnce[(CellValue, Int)]): Unit = {
    startRow()
    var col = 0
    cells.iterator.foreach { case (value, styleId) =>
      openCell(col)
      if (styleId > 0) sb.append("\" s=\"").append(styleId)
      value match {
        case CellValue.Empty =>
          sb.append("\"/>")
        case CellValue.IntVal(i) =>
          sb.append("\" t=\"n\"><v>").append(i).append("</v></c>")
        case CellValue.FloatVal(f) =>
          sb.append("\" t=\"n\"><v>").append(CellValue.formatDouble(f)).append("</v></c>")
        case CellValue.BoolVal(b) =>
          sb.append("\" t=\"b\"><v>").append(if (b) '1' else '0').append("</v></c>")
        case CellValue.Str(s) =>
          sb.append("\" t=\"inlineStr\"><is><t>")
          Xml.escapeInto(sb, s)
          sb.append("</t></is></c>")
        case CellValue.Formula(f) =>
          sb.append("\"><f>")
          Xml.escapeInto(sb, f)
          sb.append("</f></c>")
        case CellValue.DateTime(serial) =>
          sb.append("\" t=\"n\"><v>").append(CellValue.formatDouble(serial)).append("</v></c>")
        case CellValue.Error(e) =>
          sb.append("\" t=\"e\"><v>")
          Xml.escapeInto(sb, e)
          sb.append("</v></c>")
      }
      col += 1
    }
    endRow()
  }

  def writeRowTyped(cells: IterableOnce[CellValue]): Unit =
    writeRowStyled(cells.iterator.map((_, CellStyle.Default)))

  /** Header row in bold (ref: src/writer.rs:283-300). */
  def writeHeaderBold(names: IterableOnce[String]): Unit =
    writeRowStyled(names.iterator.map(n => (CellValue.Str(n): CellValue, CellStyle.HeaderBold)))

  /** Explicit height (points) for the NEXT row written — the working
    * equivalent of the reference's `set_next_row_height` stub
    * (ref: src/fast_writer/ultra_low_memory.rs:74-82). One-shot: applies
    * to the single following writeRow/writeRowStyled/writeRowTyped call. */
  def setNextRowHeight(points: Double): Unit = {
    require(points > 0, s"row height must be positive, got $points")
    nextRowHeight = points
  }
  private var nextRowHeight: Double = -1

  private def startRow(): Unit = {
    if (!inSheet) addSheet("Sheet1")
    currentRow += 1
    sb.setLength(0)
    sb.append("<row r=\"").append(currentRow).append('"')
    if (nextRowHeight > 0) {
      sb.append(" ht=\"").append(nextRowHeight).append("\" customHeight=\"1\"")
      nextRowHeight = -1
    }
    sb.append('>')
  }

  private def openCell(col: Int): Unit = {
    sb.append("<c r=\"")
    while (letterCache.size <= col) letterCache += A1.colToLetter(letterCache.size)
    sb.append(letterCache(col))
    sb.append(currentRow)
  }

  private def endRow(): Unit = {
    sb.append("</row>")
    write(sb.toString)
  }

  private def finishSheet(): Unit = {
    if (inSheet) {
      write("</sheetData>")
      protection.foreach(p => write(p.toXml))
      write("</worksheet>")
      entry.close()
      inSheet = false
    }
  }

  /** Close the workbook: finish the open sheet, then stream the static
    * package parts (ref: zero_temp_workbook.rs:300-532). */
  def close(): Unit = {
    if (closed) return
    if (sheetNames.isEmpty) addSheet("Sheet1")
    finishSheet()
    XlsxWriter.packageParts(sheetNames, continuations).foreach { case (name, content) =>
      zip.addDeflated(name, content.getBytes(UTF_8), compressionLevel)
    }
    zip.finish()
    zip.close()
    closed = true
  }

  // String.getBytes(UTF_8) is a JIT intrinsic over compact strings —
  // measured as fast as hand-rolled encoder chains here, and simpler.
  private def write(s: String): Unit = {
    val b = s.getBytes(UTF_8)
    entry.write(b, 0, b.length)
  }
}

object XlsxWriter {

  /** The package parts written after the sheets, as (entry name, content),
    * for a workbook with these sheets and rollover continuations. */
  private[graft] def packageParts(
      sheetNames: Seq[String], continuations: Seq[Int]): Seq[(String, String)] = Seq(
    "[Content_Types].xml" -> contentTypes(sheetNames.size),
    "_rels/.rels" -> RootRels,
    "xl/workbook.xml" -> workbookXml(sheetNames),
    "xl/_rels/workbook.xml.rels" -> workbookRels(sheetNames.size),
    "xl/styles.xml" -> StylesXml,
    "xl/sharedStrings.xml" -> EmptySst,
    "docProps/app.xml" -> AppProps,
    "docProps/core.xml" -> CoreProps,
    "docProps/custom.xml" -> customProps(continuations))

  def contentTypes(nSheets: Int): String = {
    val sb = new java.lang.StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
<Override PartName="/docProps/core.xml" ContentType="application/vnd.openxmlformats-package.core-properties+xml"/>
<Override PartName="/docProps/app.xml" ContentType="application/vnd.openxmlformats-officedocument.extended-properties+xml"/>
<Override PartName="/docProps/custom.xml" ContentType="application/vnd.openxmlformats-officedocument.custom-properties+xml"/>""")
    (1 to nSheets).foreach { i =>
      sb.append(s"""\n<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
    }
    sb.append("\n</Types>")
    sb.toString
  }

  val RootRels: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/package/2006/relationships/metadata/core-properties" Target="docProps/core.xml"/>
<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/extended-properties" Target="docProps/app.xml"/>
<Relationship Id="rId4" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/custom-properties" Target="docProps/custom.xml"/>
</Relationships>"""

  def workbookXml(sheetNames: Seq[String]): String = {
    val sb = new java.lang.StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets>""")
    sheetNames.zipWithIndex.foreach { case (name, i) =>
      sb.append(s"""\n<sheet name="${Xml.escape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""")
    }
    sb.append("\n</sheets>\n</workbook>")
    sb.toString
  }

  def workbookRels(nSheets: Int): String = {
    val sb = new java.lang.StringBuilder(
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""")
    (1 to nSheets).foreach { i =>
      sb.append(s"""\n<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
    }
    sb.append(s"""\n<Relationship Id="rId${nSheets + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""")
    sb.append(s"""\n<Relationship Id="rId${nSheets + 2}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""")
    sb.append("\n</Relationships>")
    sb.toString
  }

  /** Fixed stylesheet; cellXfs indices equal the CellStyle constants
    * (ref: zero_temp_workbook.rs:434-485). */
  val StylesXml: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<numFmts count="3">
<numFmt numFmtId="164" formatCode="mm/dd/yyyy"/>
<numFmt numFmtId="165" formatCode="mm/dd/yyyy hh:mm:ss"/>
<numFmt numFmtId="166" formatCode="mm/dd/yyyy hh:mm"/>
</numFmts>
<fonts count="3">
<font><sz val="11"/><name val="Calibri"/></font>
<font><b/><sz val="11"/><name val="Calibri"/></font>
<font><i/><sz val="11"/><name val="Calibri"/></font>
</fonts>
<fills count="5">
<fill><patternFill patternType="none"/></fill>
<fill><patternFill patternType="gray125"/></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FFFFFF00"/></patternFill></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FF00FF00"/></patternFill></fill>
<fill><patternFill patternType="solid"><fgColor rgb="FFFF0000"/></patternFill></fill>
</fills>
<borders count="2">
<border><left/><right/><top/><bottom/><diagonal/></border>
<border><left style="thin"/><right style="thin"/><top style="thin"/><bottom style="thin"/></border>
</borders>
<cellXfs count="15">
<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>
<xf numFmtId="0" fontId="1" fillId="0" borderId="0" xfId="0" applyFont="1"/>
<xf numFmtId="3" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="4" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="5" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="9" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="164" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="165" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
<xf numFmtId="0" fontId="1" fillId="0" borderId="0" xfId="0" applyFont="1"/>
<xf numFmtId="0" fontId="2" fillId="0" borderId="0" xfId="0" applyFont="1"/>
<xf numFmtId="0" fontId="0" fillId="2" borderId="0" xfId="0" applyFill="1"/>
<xf numFmtId="0" fontId="0" fillId="3" borderId="0" xfId="0" applyFill="1"/>
<xf numFmtId="0" fontId="0" fillId="4" borderId="0" xfId="0" applyFill="1"/>
<xf numFmtId="0" fontId="0" fillId="0" borderId="1" xfId="0" applyBorder="1"/>
<xf numFmtId="166" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>
</cellXfs>
</styleSheet>"""

  /** Inline strings are used throughout, so the SST is present but empty
    * (ref: zero_temp_workbook.rs:487-500). */
  val EmptySst: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="0" uniqueCount="0"/>
"""

  val AppProps: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Properties xmlns="http://schemas.openxmlformats.org/officeDocument/2006/extended-properties">
<Application>graft</Application>
</Properties>"""

  /** Custom file properties (standard OOXML part). `graftRollover` lists
    * the 0-based indices of rollover continuation sheets, comma-separated —
    * present (possibly empty) in every workbook this writer produces, so a
    * reader can tell "stamped, no rollover" from "legacy/foreign file". */
  def customProps(continuations: Seq[Int]): String =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Properties xmlns="http://schemas.openxmlformats.org/officeDocument/2006/custom-properties" xmlns:vt="http://schemas.openxmlformats.org/officeDocument/2006/docPropsVTypes">
<property fmtid="{D5CDD505-2E9C-101B-9397-08002B2CF9AE}" pid="2" name="graftRollover"><vt:lpwstr>${continuations.mkString(",")}</vt:lpwstr></property>
</Properties>"""

  val CoreProps: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/" xmlns:dcterms="http://purl.org/dc/terms/" xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
<dc:creator>graft</dc:creator>
</cp:coreProperties>"""
}
