package graft.xlsx

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable.ArrayBuffer

/** Test oracle: the StAX row iterator the sheet read path used before
  * [[SheetScanner]], kept verbatim so property specs can compare the two
  * on arbitrary sheet XML. */
object StaxRowOracle {

  private val factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f
  }

  /** Rows `[startRow, endRow)` of one sheet part. */
  def rows(in: java.io.InputStream, sst: Vector[String], date1904: Boolean, dateStyles: Set[Int],
      startRow: Long = 0L, endRow: Long = Long.MaxValue): XlsxReader.RowIter =
    new RowIterator(factory.createXMLStreamReader(in), in, sst, date1904, dateStyles, startRow, endRow)

  private def attr(xr: XMLStreamReader, localName: String): Option[String] = {
    var i = 0
    while (i < xr.getAttributeCount) {
      if (xr.getAttributeLocalName(i) == localName) return Some(xr.getAttributeValue(i))
      i += 1
    }
    None
  }

  /** Pull-parse `<row>` elements into CellValue vectors with A1-gap
    * back-fill (ref: src/streaming_reader.rs:593-724). `[startRow, endRow)`
    * bounds by 0-based physical row index: earlier rows are skimmed without
    * cell parsing, and the stream closes the moment `endRow` is reached. */
  final class RowIterator(
      xr: XMLStreamReader,
      underlying: java.io.Closeable,
      sst: Vector[String],
      date1904: Boolean,
      dateStyles: Set[Int],
      startRow: Long = 0L,
      endRow: Long = Long.MaxValue
  ) extends XlsxReader.RowIter {

    private var nextRow: Vector[CellValue] = _
    private var done = false
    private var rowIdx = -1L
    advance()

    override def close(): Unit = finish()

    override def hasNext: Boolean = !done
    override def next(): Vector[CellValue] = {
      if (done) throw new NoSuchElementException
      val r = nextRow
      advance()
      r
    }

    private def advance(): Unit = {
      try {
        while (xr.hasNext) {
          if (xr.next() == XMLStreamConstants.START_ELEMENT && xr.getLocalName == "row") {
            rowIdx += 1
            if (rowIdx >= endRow) { finish(); return }
            if (rowIdx >= startRow) { nextRow = parseRow(); return }
            skipRow() // before the range: skim the subtree, no cell decode
          }
        }
        finish()
      } catch {
        case e: Exception => finish(); throw e
      }
    }

    /** Consume the current `<row>` subtree without materializing cells. */
    private def skipRow(): Unit = {
      var depth = 1
      while (depth > 0) {
        xr.next() match {
          case XMLStreamConstants.START_ELEMENT => depth += 1
          case XMLStreamConstants.END_ELEMENT   => depth -= 1
          case _ =>
        }
      }
    }

    private var closed = false
    private def finish(): Unit = {
      done = true
      if (!closed) {
        closed = true
        try xr.close() finally underlying.close()
      }
    }

    private def parseRow(): Vector[CellValue] = {
      val cells = ArrayBuffer.empty[CellValue]
      var ev = xr.next()
      while (!(ev == XMLStreamConstants.END_ELEMENT && xr.getLocalName == "row")) {
        if (ev == XMLStreamConstants.START_ELEMENT && xr.getLocalName == "c") {
          val ref = attr(xr, "r")
          val t = attr(xr, "t").getOrElse("")
          val styleId = attr(xr, "s").flatMap(_.toIntOption)
          val colIdx = ref.map(A1.parseColumnIndex).getOrElse(cells.size)
          while (cells.size < colIdx) cells += CellValue.Empty // sparse back-fill
          cells += parseCell(t, styleId)
        }
        ev = xr.next()
      }
      cells.toVector
    }

    /** Collects <v>, inline <is><t>, and <f> children of the current <c>,
      * then decodes per the reference's type dispatch
      * (ref: src/streaming_reader.rs:636-717). */
    private def parseCell(t: String, styleId: Option[Int]): CellValue = {
      var v: String = null
      // Inline rich text is one <t> per run (<is><r><t>a</t></r><r><t>b</t>
      // </r></is>) — concatenate runs like the SST path does
      // (ref: src/streaming_reader.rs:766-815); keeping only the last run
      // loses data on foreign-authored files.
      var inlineText: StringBuilder = null
      var formula: String = null
      var inRPh = false // skip phonetic runs, as in the SST path
      var ev = xr.next()
      while (!(ev == XMLStreamConstants.END_ELEMENT && xr.getLocalName == "c")) {
        if (ev == XMLStreamConstants.START_ELEMENT) {
          xr.getLocalName match {
            case "v" => v = xr.getElementText
            case "rPh" => inRPh = true
            case "t" if !inRPh =>
              if (inlineText == null) inlineText = new StringBuilder
              inlineText ++= xr.getElementText
            case "f" => formula = xr.getElementText
            case _ =>
          }
        } else if (ev == XMLStreamConstants.END_ELEMENT && xr.getLocalName == "rPh") {
          inRPh = false
        }
        ev = xr.next()
      }
      t match {
        case "inlineStr" =>
          if (inlineText != null) CellValue.Str(inlineText.result()) else CellValue.Empty
        case "s" =>
          v match {
            case null => CellValue.Empty
            case s => s.toIntOption.flatMap(sst.lift)
              .map(CellValue.Str(_): CellValue).getOrElse(CellValue.Empty)
          }
        case "b" =>
          if (v == null) CellValue.Empty else CellValue.BoolVal(v == "1")
        case "e" =>
          if (v == null) CellValue.Empty else CellValue.Error(v)
        case "str" =>
          if (v != null) CellValue.Str(v)
          else if (formula != null) CellValue.Formula(formula)
          else CellValue.Empty
        case _ => // untyped numeric / date / formula
          val isDateStyle = styleId.exists(dateStyles.contains)
          if (v == null) {
            if (formula != null) CellValue.Formula(formula) else CellValue.Empty
          } else v.toLongOption match {
            // Exact long parse first: the reference routes every numeric
            // through f64 (ref: src/streaming_reader.rs:687) and silently
            // corrupts integers beyond 2^53 — deviation, fixed here.
            case Some(l) =>
              // normalize to the 1900 epoch BEFORE the range gate: 1904
              // serial 0 (= 1904-01-01) is a valid date at 1462, and the
              // shifted value must also respect the upper bound
              val adjL = if (date1904) l + 1462L else l
              if (isDateStyle && adjL >= 1L && adjL <= 2958465L)
                CellValue.DateTime(adjL.toDouble)
              else CellValue.IntVal(l)
            case None => v.toDoubleOption match {
              case Some(num) =>
                // Timestamp styles accept fractional serials (the reference's
                // integral-only heuristic at src/streaming_reader.rs:699 loses
                // the time part it wrote itself — deviation, fixed here).
                val adj = if (date1904) num + 1462.0d else num
                if (isDateStyle && adj >= ExcelDate.MinSerial && adj <= ExcelDate.MaxSerial)
                  CellValue.DateTime(adj)
                else if (num == math.rint(num) && !num.isInfinite &&
                         num >= Long.MinValue.toDouble && num <= Long.MaxValue.toDouble)
                  CellValue.IntVal(num.toLong)
                else CellValue.FloatVal(num)
              case None => CellValue.Str(v)
            }
          }
      }
    }
  }
}
