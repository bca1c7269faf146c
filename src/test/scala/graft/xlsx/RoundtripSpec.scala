package graft.xlsx

import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream

/** Writer -> reader roundtrips mirroring the reference's integration tests
  * (ref: tests/integration_test.rs:1-479; fixtures FIXTURES.md B1-B10). */
class RoundtripSpec extends AnyFunSuite {
  import CellValue._

  private def roundtrip(build: XlsxWriter => Unit): XlsxReader = {
    val bos = new ByteArrayOutputStream()
    val w = new XlsxWriter(bos)
    build(w)
    w.close()
    XlsxReader.forBytes(bos.toByteArray)
  }

  test("B1: basic roundtrip with header") {
    val r = roundtrip { w =>
      w.addSheet("Sheet1")
      w.writeHeaderBold(Seq("Name", "Age", "City"))
      w.writeRow(Seq("Alice", "30", "NYC"))
      w.writeRow(Seq("Bob", "25", "SF"))
    }
    val rows = r.rows("Sheet1").toVector
    assert(rows.size == 3)
    assert(rows(0) == Vector[CellValue](Str("Name"), Str("Age"), Str("City")))
    assert(rows(1) == Vector[CellValue](Str("Alice"), Str("30"), Str("NYC")))
  }

  test("B2: typed cells") {
    val r = roundtrip { w =>
      w.writeRowTyped(Seq(Str("Alice"), IntVal(30), FloatVal(1234.56), BoolVal(true)))
    }
    val row = r.rowsByIndex(0).next()
    assert(row == Vector[CellValue](Str("Alice"), IntVal(30), FloatVal(1234.56), BoolVal(true)))
  }

  test("B3: multi-sheet workbook") {
    val r = roundtrip { w =>
      w.addSheet("Sales"); w.writeRow(Seq("Jan", "100"))
      w.addSheet("Employees"); w.writeRow(Seq("1", "Ada")); w.writeRow(Seq("2", "Bo"))
      w.addSheet("Products"); w.writeRow(Seq("SKU-1"))
    }
    assert(r.sheetNames == Seq("Sales", "Employees", "Products"))
    assert(r.rows("Employees").size == 2)
    assert(r.rows("Products").next().head == Str("SKU-1"))
  }

  test("B4: unicode sheet names") {
    val names = Seq("Данные", "数据", "Données")
    val r = roundtrip { w => names.foreach { n => w.addSheet(n); w.writeRow(Seq("x")) } }
    assert(r.sheetNames == names)
    names.foreach(n => assert(r.rows(n).size == 1))
  }

  test("B5: special characters survive escape/decode") {
    val row1 = Seq("Text with <xml> tags", "Quote: \"Hello\"", "Ampersand: &", "Apostrophe: '")
    val row2 = Seq("Emoji: 😀🎉", "Unicode: Ñoño", "Math: ∑∏∫", "Currency: €£¥")
    val r = roundtrip { w => w.writeRow(row1); w.writeRow(row2) }
    val rows = r.rowsByIndex(0).toVector
    assert(rows(0).map(_.asString) == row1)
    assert(rows(1).map(_.asString) == row2)
  }

  test("B6: empty/sparse cells back-filled") {
    val r = roundtrip { w =>
      w.writeRow(Seq("A", "", "C"))
      w.writeRowTyped(Seq(Str("X"), Empty, Str("Z")))
      w.writeRow(Seq("", "mid", ""))
    }
    val rows = r.rowsByIndex(0).toVector
    assert(rows(0) == Vector[CellValue](Str("A"), Empty, Str("C")))
    assert(rows(1) == Vector[CellValue](Str("X"), Empty, Str("Z")))
    assert(rows(2) == Vector[CellValue](Empty, Str("mid"), Empty))
  }

  test("B7: 10k-char strings") {
    val long = "x" * 10000 + "<&>" + "y" * 100
    val r = roundtrip { w => w.writeRow(Seq(long, "small")) }
    assert(r.rowsByIndex(0).next().head.asString == long)
  }

  test("B8: 1000-row streaming, value = 2*id") {
    val r = roundtrip { w =>
      (1 to 1000).foreach(i => w.writeRowTyped(Seq(IntVal(i), IntVal(2L * i))))
    }
    val rows = r.rowsByIndex(0).toVector
    assert(rows.size == 1000)
    assert(rows(499) == Vector[CellValue](IntVal(500), IntVal(1000)))
    assert(r.dimensions(r.sheetNames.head) == (1000L, 2))
  }

  test("row ranges: disjoint slices concatenate to the full sheet; skim skips cell decode") {
    val r = roundtrip { w =>
      (0 until 2000).foreach(i => w.writeRowTyped(Seq(IntVal(i), Str(s"v$i"))))
    }
    val sheet = r.sheetNames.head
    val all = r.rows(sheet).toVector
    assert(all.size == 2000)
    val sliced = Vector((0L, 700L), (700L, 1500L), (1500L, Long.MaxValue))
      .flatMap { case (a, b) => r.rows(sheet, a, b).toVector }
    assert(sliced == all, "range concat differs from whole-sheet read")
    // an empty and an out-of-range slice are empty, not errors
    assert(r.rows(sheet, 5, 5).toVector.isEmpty)
    assert(r.rows(sheet, 5000, 6000).toVector.isEmpty)
    // mid-sheet slice starts exactly at its positional index
    assert(r.rows(sheet, 1234, 1235).next() == Vector[CellValue](IntVal(1234), Str("v1234")))
  }

  test("estimateRows: exact when the sample covers the sheet; extrapolation scales with entrySize") {
    val r = roundtrip { w =>
      (0 until 3000).foreach(i => w.writeRowTyped(Seq(IntVal(i), Str(s"value-$i"))))
    }
    val sheet = r.sheetNames.head
    // sample big enough to cover the whole entry -> exact count, entrySize ignored
    val exact = r.estimateRows(sheet, entrySize = 1L << 30, sampleBytes = 1 << 26)
    assert(exact.contains(3000L))
    // truncated sample -> linear extrapolation in entrySize (the mechanics
    // under test; absolute accuracy depends on row-size uniformity)
    val est1 = r.estimateRows(sheet, entrySize = 100000L, sampleBytes = 8 * 1024).get
    val est2 = r.estimateRows(sheet, entrySize = 200000L, sampleBytes = 8 * 1024).get
    assert(est1 > 0L)
    assert(math.abs(est2 - 2 * est1) <= 1L, s"est2=$est2 not ~2x est1=$est1")
  }

  // foreign-authored workbook bytes: Excel-style namespace-prefixed
  // attributes on rows, plus a comment inside sheetData
  private def foreignWorkbook(rows: Int): XlsxReader = {
    val sheet = new StringBuilder
    sheet ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:x14ac="http://schemas.microsoft.com/office/spreadsheetml/2009/9/ac">
<sheetData><!-- generator note: <row> layout v2 -->"""
    (1 to rows).foreach { r =>
      sheet ++= s"""<row r="$r" x14ac:dyDescent="0.25"><c r="A$r" t="inlineStr"><is><t>v$r</t></is></c><c r="B$r"><v>$r</v></c></row>"""
    }
    sheet ++= "</sheetData></worksheet>"
    val bos = new ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, content: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml", sheet.toString)
    z.close()
    XlsxReader.forBytes(bos.toByteArray)
  }

  test("foreign namespace-prefixed rows: split ranges parse and ignore the comment") {
    val r = foreignWorkbook(100)
    val all = r.rows("Data").toVector
    assert(all.size == 100)
    // a mid-sheet range skips rows with the same scanner that parses them;
    // the <!-- <row> --> comment must not shift positions
    val slice = r.rows("Data", 40, 45).toVector
    assert(slice.size == 5)
    assert(slice.head == Vector[CellValue](Str("v41"), IntVal(41)))
    assert(slice.last == Vector[CellValue](Str("v45"), IntVal(45)))
    // sliced union still equals the whole sheet
    val stitched = Vector((0L, 33L), (33L, 66L), (66L, Long.MaxValue))
      .flatMap { case (a, b) => r.rows("Data", a, b).toVector }
    assert(stitched == all)
    // the comment is also invisible to the planning-side row estimate
    assert(r.estimateRows("Data", entrySize = 1L << 30, sampleBytes = 1 << 24).contains(100L))
  }

  test("SST cache: split tasks of one file share the parsed table; rewrite invalidates") {
    // foreign-style workbook with an SST (t="s" cells) — our writer never
    // emits one, so hand-assemble the package
    def sstWorkbook(path: String, v0: String): Unit = {
      val z = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
      def entry(name: String, content: String): Unit = {
        z.putNextEntry(new java.util.zip.ZipEntry(name))
        z.write(content.getBytes("UTF-8")); z.closeEntry()
      }
      entry("xl/workbook.xml",
        """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
      entry("xl/sharedStrings.xml",
        s"""<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2"><si><t>$v0</t></si><si><t>two</t></si></sst>""")
      entry("xl/worksheets/sheet1.xml",
        """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row></sheetData></worksheet>""")
      z.close()
    }
    val f = java.nio.file.Files.createTempFile("sstcache", ".xlsx").toString
    sstWorkbook(f, "one")
    val a = XlsxReader.forFile(f, useSstCache = true)
    val b = XlsxReader.forFile(f, useSstCache = true)
    assert(a.rows("S").next() == Vector[CellValue](Str("one"), Str("two")))
    // same parsed Vector instance = the cache was shared, not re-parsed
    assert(a.sharedStrings eq b.sharedStrings)
    // rewrite with different content (and size) -> new key -> fresh table
    Thread.sleep(5)
    sstWorkbook(f, "uno-rewritten")
    val c = XlsxReader.forFile(f, useSstCache = true)
    assert(c.rows("S").next().head == Str("uno-rewritten"))
  }

  test("B9: styled rows keep values; date styles decode as DateTime") {
    val r = roundtrip { w =>
      w.writeRowStyled(Seq(
        (IntVal(1234567), CellStyle.NumberInteger),
        (FloatVal(0.42), CellStyle.NumberPercentage),
        (DateTime(44927.5), CellStyle.DateTimestamp),
        (DateTime(44927.0), CellStyle.DateDefault)))
    }
    val row = r.rowsByIndex(0).next()
    assert(row(0) == IntVal(1234567)) // non-date style stays numeric
    assert(row(1) == FloatVal(0.42))
    assert(row(2) == DateTime(44927.5))
    assert(row(3) == DateTime(44927.0))
  }

  test("B10: formulas and errors") {
    val r = roundtrip { w =>
      w.writeRowTyped(Seq(IntVal(10), IntVal(20), Formula("=A2+B2")))
      w.writeRowTyped(Seq(Str("Total"), Empty, Formula("=SUM(C2:C3)")))
      w.writeRowTyped(Seq(Error("#DIV/0!")))
    }
    val rows = r.rowsByIndex(0).toVector
    assert(rows(0)(2) == Formula("=A2+B2"))
    assert(rows(1)(2) == Formula("=SUM(C2:C3)"))
    assert(rows(2)(0) == Error("#DIV/0!"))
  }

  test("B14: protected sheet roundtrips and contains protection XML") {
    val bos = new ByteArrayOutputStream()
    val w = new XlsxWriter(bos)
    w.addSheet("Locked")
    w.protectSheet(ProtectionOptions(password = Some("secret123"),
      selectLockedCells = true, selectUnlockedCells = true))
    w.writeRow(Seq("data"))
    w.close()
    val bytes = bos.toByteArray
    assert(XlsxReader.forBytes(bytes).rows("Locked").size == 1)
    // protection element present with inverted-semantics attrs
    val zis = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bytes))
    var xml = ""
    var e = zis.getNextEntry
    while (e != null) {
      if (e.getName == "xl/worksheets/sheet1.xml") xml = new String(zis.readAllBytes())
      e = zis.getNextEntry
    }
    assert(xml.contains(s"""password="${PasswordHash.hash("secret123")}""""))
    assert(xml.contains("""selectLockedCells="0""""))
    assert(!xml.contains("formatCells=")) // denied -> attribute absent
  }

  test("multi-run inline rich text concatenates all runs (foreign-authored files)") {
    // Hand-built workbook: our writer never emits <is><r><t>..</t></r>..,
    // but foreign writers do (ref: src/streaming_reader.rs:766-815 tests the
    // same shapes for the SST path). All runs must concatenate, not keep last.
    val bos = new ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets><sheet name="S" sheetId="1" id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData><row r="1">""" +
        """<c r="A1" t="inlineStr"><is><r><rPr><b/></rPr><t>a</t></r><r><t>b</t></r></is></c>""" +
        """<c r="B1" t="inlineStr"><is><t>plain</t></is></c>""" +
        """<c r="C1" t="inlineStr"><is><r><t>x</t></r><r><t xml:space="preserve"> y</t></r><r><t> z</t></r></is></c>""" +
        """</row></sheetData></worksheet>""")
    zos.close()
    val row = XlsxReader.forBytes(bos.toByteArray).rows("S").next()
    assert(row == Vector[CellValue](Str("ab"), Str("plain"), Str("x y z")))
  }

  test("date1904 workbooks normalize serials to the 1900 epoch (foreign Mac files)") {
    // our writer always emits the 1900 system, so 1904 inputs are foreign
    def workbook(date1904: Boolean): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      def entry(name: String, content: String): Unit = {
        zos.putNextEntry(new java.util.zip.ZipEntry(name))
        zos.write(content.getBytes("UTF-8"))
        zos.closeEntry()
      }
      val pr = if (date1904) """<workbookPr date1904="1"/>""" else "<workbookPr/>"
      entry("xl/workbook.xml",
        s"""<?xml version="1.0"?><workbook>$pr<sheets><sheet name="S" sheetId="1" id="rId1"/></sheets></workbook>""")
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0"?><Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""")
      // the writer's own stylesheet: s="6" = CellStyle.DateDefault
      entry("xl/styles.xml", XlsxWriter.StylesXml)
      entry("xl/worksheets/sheet1.xml",
        """<?xml version="1.0"?><worksheet><sheetData><row r="1">""" +
          s"""<c r="A1" s="${CellStyle.DateDefault}"><v>100.5</v></c>""" +
          """</row></sheetData></worksheet>""")
      zos.close()
      bos.toByteArray
    }
    def serialOf(bytes: Array[Byte]): Double =
      XlsxReader.forBytes(bytes).rows("S").next().head match {
        case CellValue.DateTime(s) => s
        case other => fail(s"expected DateTime, got $other")
      }
    val s1900 = serialOf(workbook(date1904 = false))
    val s1904 = serialOf(workbook(date1904 = true))
    assert(s1900 === 100.5)
    assert(s1904 === 100.5 + 1462.0, "1904-system serials shift to the 1900 epoch")
  }

  test("date1904: serial 0 (1904-01-01) is a valid date after normalization") {
    // the range gate must apply to the NORMALIZED serial — raw 0 is
    // outside [1, 2958465] but 1904-system 0 means 1904-01-01 = 1462
    val bos = new ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><workbookPr date1904="1"/><sheets><sheet name="S" sheetId="1" id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/styles.xml", XlsxWriter.StylesXml)
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData><row r="1">""" +
        s"""<c r="A1" s="${CellStyle.DateDefault}"><v>0</v></c>""" +
        s"""<c r="B1" s="${CellStyle.DateDefault}"><v>0.5</v></c>""" +
        """</row></sheetData></worksheet>""")
    zos.close()
    val row = XlsxReader.forBytes(bos.toByteArray).rows("S").next()
    assert(row == Vector[CellValue](DateTime(1462.0), DateTime(1462.5)))
  }

  test("foreign stylesheet: date detection follows numFmts, not our style indices") {
    // openpyxl-style layout: xf 1 = built-in date id 14, xf 2 = custom
    // date code, xf 3 = custom currency (quoted $ must NOT read as date)
    val bos = new ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets><sheet name="S" sheetId="1" id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/styles.xml",
      """<?xml version="1.0"?><styleSheet>""" +
        """<numFmts count="2"><numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/>""" +
        """<numFmt numFmtId="165" formatCode="&quot;$&quot;#,##0.00"/></numFmts>""" +
        """<cellXfs count="4">""" +
        """<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/><xf numFmtId="165"/>""" +
        """</cellXfs></styleSheet>""")
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet><sheetData><row r="1">""" +
        """<c r="A1" s="1"><v>100</v></c>""" +  // builtin date fmt -> date
        """<c r="B1" s="2"><v>200</v></c>""" +  // custom date code -> date
        """<c r="C1" s="3"><v>300</v></c>""" +  // currency -> number
        """<c r="D1"><v>400</v></c>""" +        // unstyled -> number
        """</row></sheetData></worksheet>""")
    zos.close()
    val row = XlsxReader.forBytes(bos.toByteArray).rows("S").next()
    assert(row == Vector[CellValue](
      DateTime(100.0), DateTime(200.0), IntVal(300L), IntVal(400L)))
  }

  test("SheetScanner: '<row ' inside a processing instruction is not a row") {
    // a PI may legally contain literal '<row ' in its content; the scanner
    // must skip it both when counting rows and when positioning a range
    val xml = """<?xml version="1.0"?><worksheet><sheetData>""" +
      """<?gen <row v2?>""" +
      """<row r="1"><c r="A1" t="n"><v>1</v></c></row>""" +
      """<?x <row ?  <row > ?>""" +
      """<row r="2"><c r="A2" t="n"><v>2</v></c></row>""" +
      """</sheetData></worksheet>"""
    val bytes = xml.getBytes("UTF-8")
    def scanner(start: Long, sample: Long) = new SheetScanner(new java.io.ByteArrayInputStream(bytes),
      Vector.empty, false, Set.empty, startRow = start, sampleBytes = sample)
    val counter = scanner(0L, bytes.length + 16L)
    assert(counter.countRows() === 2L, "PI content miscounted as rows")
    assert(counter.exhausted)
    assert(scanner(1L, -1L).toVector === Vector(Vector[CellValue](IntVal(2L))))
  }

  test("rollover stamp: continuation indices survive the write/read cycle") {
    val bos = new ByteArrayOutputStream()
    val w = new XlsxWriter(bos)
    w.addSheet("Data"); w.writeRow(Seq("a"))
    w.addSheet("Data_2", continuation = true); w.writeRow(Seq("b"))
    w.addSheet("Other"); w.writeRow(Seq("c"))
    w.close()
    val r = XlsxReader.forBytes(bos.toByteArray)
    assert(r.rolloverContinuations === Some(Set(1)))
    // a workbook with no rollover is stamped with the EMPTY set (so readers
    // can tell "stamped, no rollover" from "legacy/foreign")
    val r2 = roundtrip { w2 => w2.addSheet("One"); w2.writeRow(Seq("x")) }
    assert(r2.rolloverContinuations === Some(Set.empty[Int]))
  }

  test("compression levels produce valid files of decreasing size") {
    def size(level: Int): Int = {
      val bos = new ByteArrayOutputStream()
      val w = new XlsxWriter(bos, level)
      (1 to 2000).foreach(i => w.writeRow(Seq(s"row-$i-payload-payload-payload", i.toString)))
      w.close()
      assert(XlsxReader.forBytes(bos.toByteArray).rowsByIndex(0).size == 2000)
      bos.size()
    }
    assert(size(0) > size(1) && size(1) >= size(9))
  }
}
