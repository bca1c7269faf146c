package graft.sources

import java.nio.file.Files

import graft.sources.xlsx.XlsxInMemory
import graft.xlsx.XlsxReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Test-only filesystem: local storage behind a non-"file" scheme, so the
  * DSv2's Hadoop streaming branch (the s3a:// shape) is exercised without
  * network. Counts file opens, so specs can assert what planning reads. */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
  override def checkPath(path: org.apache.hadoop.fs.Path): Unit = ()
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    MockFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object MockFs {
  val opens = new java.util.concurrent.atomic.AtomicInteger
}

/** Temp directories made through `tempDir` are deleted when their test
  * ends, in a `finally` after its assertions, whether it passed or not. */
trait TempDirs extends org.scalatest.TestSuite {
  private val made = scala.collection.mutable.Buffer.empty[java.nio.file.Path]

  protected def tempDir(prefix: String): String = made.synchronized {
    val d = Files.createTempDirectory(prefix)
    made += d
    d.toString
  }

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally made.synchronized {
      made.foreach { d =>
        val all = Files.walk(d)
        try all.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
        finally all.close()
      }
      made.clear()
    }
}

/** Column widths (<cols>) and in-memory workbook/CSV builders. */
class XlsxExtrasSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("columnWidths option emits a real <cols> element") {
    val dir = tempDir("xw") + "/w"
    spark.range(5).selectExpr("id", "concat('v', id) AS s").coalesce(1)
      .write.mode("overwrite").format("xlsx")
      .option("header", "true").option("columnWidths", "22.5, 8").save(dir)
    val f = new java.io.File(dir).listFiles().find(_.getName.endsWith(".xlsx")).get
    val zip = new java.util.zip.ZipFile(f)
    val entry = zip.getEntry("xl/worksheets/sheet1.xml")
    val xml = new String(zip.getInputStream(entry).readAllBytes())
    zip.close()
    assert(xml.contains("""<col min="1" max="1" width="22.5" customWidth="1"/>"""))
    assert(xml.contains("""<col min="2" max="2" width="8.0" customWidth="1"/>"""))
    assert(xml.indexOf("<cols>") < xml.indexOf("<sheetData>"))
    // and the file still reads back fine
    val back = spark.read.format("xlsx").option("header", "true").load(dir)
    assert(back.count() === 5)
  }

  test("rowHeight option emits sheetFormatPr; setNextRowHeight emits per-row ht") {
    val dir = tempDir("xh") + "/h"
    spark.range(3).coalesce(1)
      .write.mode("overwrite").format("xlsx")
      .option("header", "true").option("rowHeight", "25.5").save(dir)
    val f = new java.io.File(dir).listFiles().find(_.getName.endsWith(".xlsx")).get
    val zip = new java.util.zip.ZipFile(f)
    val xml = new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
    zip.close()
    assert(xml.contains("""<sheetFormatPr defaultRowHeight="25.5" customHeight="1"/>"""))
    assert(xml.indexOf("sheetFormatPr") < xml.indexOf("<sheetData>"))
    assert(spark.read.format("xlsx").option("header", "true").load(dir).count() === 3)

    // per-row height through the core writer (the reference's stub, working)
    val bos = new java.io.ByteArrayOutputStream()
    val w = new graft.xlsx.XlsxWriter(bos)
    w.addSheet("H")
    w.setNextRowHeight(30)
    w.writeRow(Seq("tall"))
    w.writeRow(Seq("normal"))
    w.close()
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
    var sheetXml = ""
    var e = zin.getNextEntry
    while (e != null) {
      if (e.getName == "xl/worksheets/sheet1.xml") sheetXml = new String(zin.readAllBytes())
      e = zin.getNextEntry
    }
    assert(sheetXml.contains("""<row r="1" ht="30.0" customHeight="1">"""))
    assert(sheetXml.contains("""<row r="2">"""), "height must be one-shot")
  }

  test("columnStyles option applies reference style presets per column") {
    val dir = tempDir("xs") + "/s"
    spark.range(3).selectExpr("id", "id * 0.5 AS pct").coalesce(1)
      .write.mode("overwrite").format("xlsx")
      .option("header", "true")
      .option("columnStyles", "HighlightYellow,NumberPercentage").save(dir)
    val f = new java.io.File(dir).listFiles().find(_.getName.endsWith(".xlsx")).get
    val zip = new java.util.zip.ZipFile(f)
    val xml = new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
    zip.close()
    assert(xml.contains("s=\"10\""), xml) // HighlightYellow id
    assert(xml.contains("s=\"5\""), xml)  // NumberPercentage id
    // values still roundtrip
    val back = spark.read.format("xlsx").option("header", "true").load(dir)
    assert(back.count() === 3)
    // bad style name errors loudly
    val e = intercept[Exception] {
      spark.range(1).coalesce(1).write.mode("overwrite").format("xlsx")
        .option("columnStyles", "NoSuchStyle").save(dir + "2")
    }
    assert(e.getMessage.contains("unknown style") || e.getCause.getMessage.contains("unknown style"))
  }

  test("sheetNameColumn carries per-row sheet provenance through allSheets") {
    val dir = tempDir("xsn") + "/sn"
    spark.range(100).selectExpr("id", "CASE WHEN id < 40 THEN 'us' ELSE 'eu' END AS region")
      .coalesce(1).write.mode("overwrite").format("xlsx")
      .option("header", "true").option("sheetColumn", "region").save(dir)
    val back = spark.read.format("xlsx")
      .option("header", "true").option("allSheets", "true")
      .option("sheetNameColumn", "_sheet").load(dir)
    assert(back.columns.toSeq === Seq("id", "region", "_sheet"))
    val bysheet = back.groupBy("_sheet").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bysheet === Map("eu" -> 60L, "us" -> 40L))
    // provenance matches the routing column for every row
    assert(back.filter(col("region") =!= col("_sheet")).count() === 0)
    // pruning to only the virtual column still works
    assert(back.select("_sheet").distinct().count() === 2)
    // collision with a data column fails loudly
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("header", "true")
        .option("sheetNameColumn", "region").load(dir).collect()
    }
    assert(e.getMessage.contains("collides"), e.getMessage)
  }

  test("formulaPrefix writes '='-strings as real formula cells") {
    val dir = tempDir("xf") + "/f"
    spark.range(1, 4).selectExpr("id", "concat('=A', id, '*2') AS calc", "'=notouch' AS plainCol")
      .selectExpr("id", "calc", "substring(plainCol, 2) AS plain")
      .coalesce(1).write.mode("overwrite").format("xlsx")
      .option("header", "true").option("formulaPrefix", "=").save(dir)
    val f = new java.io.File(dir).listFiles().find(_.getName.endsWith(".xlsx")).get
    val zip = new java.util.zip.ZipFile(f)
    val xml = new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
    zip.close()
    // prefix stripped, stored as <f> (OOXML keeps formulas without '=')
    assert(xml.contains("<f>A1*2</f>"), xml)
    assert(xml.contains("<f>A3*2</f>"), xml)
    // non-prefixed strings stay inline strings (including the header row)
    assert(xml.contains("<is><t>notouch</t></is>"), xml)
    assert(xml.contains("<is><t>calc</t></is>"), xml)
    // read-side: a formula cell without a cached value surfaces its text
    val back = spark.read.format("xlsx").option("header", "true").load(dir)
      .orderBy("id").collect()
    assert(back.map(_.getString(1)).toSeq === Seq("A1*2", "A2*2", "A3*2"))
    // without the option, '='-strings roundtrip verbatim as strings
    spark.sql("SELECT '=A1*2' AS s").coalesce(1)
      .write.mode("overwrite").format("xlsx").option("header", "true").save(dir + "2")
    val verbatim = spark.read.format("xlsx").option("header", "true").load(dir + "2")
    assert(verbatim.collect()(0).getString(0) === "=A1*2")
  }

  test("full sheet-protection flag surface via DSv2 protect.* options") {
    val dir = tempDir("xp") + "/p"
    spark.range(4).coalesce(1).write.mode("overwrite").format("xlsx")
      .option("header", "true")
      .option("protect.password", "pw123")
      .option("protect.formatCells", "true")
      .option("protect.sort", "true")
      .save(dir)
    val f = new java.io.File(dir).listFiles().find(_.getName.endsWith(".xlsx")).get
    val zip = new java.util.zip.ZipFile(f)
    val xml = new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
    zip.close()
    assert(xml.contains("<sheetProtection sheet=\"1\""))
    assert(xml.contains("password=\"" + graft.xlsx.PasswordHash.hash("pw123") + "\""))
    // allowed actions carry the INVERTED attr (ref: zero_temp_workbook.rs:243-290)
    assert(xml.contains("formatCells=\"0\""))
    assert(xml.contains("sort=\"0\""))
    // denied actions are absent (= protected, the OOXML default)
    assert(!xml.contains("insertRows="))
    assert(!xml.contains("deleteColumns="))

    // passwordless protection via protect=true alone
    val dir2 = dir + "2"
    spark.range(2).coalesce(1).write.mode("overwrite").format("xlsx")
      .option("protect", "true").save(dir2)
    val f2 = new java.io.File(dir2).listFiles().find(_.getName.endsWith(".xlsx")).get
    val zip2 = new java.util.zip.ZipFile(f2)
    val xml2 = new String(zip2.getInputStream(zip2.getEntry("xl/worksheets/sheet1.xml")).readAllBytes())
    zip2.close()
    assert(xml2.contains("<sheetProtection sheet=\"1\""))
    assert(!xml2.contains("password="))
  }

  test("sheetColumn routes rows to one named sheet per distinct value") {
    import graft.xlsx.CellValue._
    val dir = tempDir("sc") + "/s"
    val df = spark.createDataFrame(Seq(
      (1L, "east", 10.0), (2L, "west", 20.0), (3L, "east", 30.0),
      (4L, "north", 40.0), (5L, "west", 50.0), (6L, "east", 60.0)
    )).toDF("id", "region", "v")
    // Deliberately scrambled input: the Write's RequiresDistributionAndOrdering
    // must re-cluster + sort so each region is one contiguous run in one task.
    df.repartition(5).write.mode("overwrite").format("xlsx")
      .option("header", "true").option("sheetColumn", "region").save(dir)

    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx"))
    val sheets = files.flatMap { f =>
      val r = XlsxReader.forFile(f.getPath)
      r.sheetNames.map(n => n -> r.rows(n).toVector)
    }.toMap
    // one sheet per region across ALL part files, named by the value
    assert(sheets.keySet === Set("east", "north", "west"))
    // every row on a sheet carries that sheet's region (col 1 = region)
    sheets.foreach { case (name, rows) =>
      assert(rows.head.map(_.asString) === Vector("id", "region", "v")) // header
      assert(rows.tail.forall(_(1) == Str(name)), s"foreign rows on sheet $name")
    }
    assert(sheets("east").size === 4 && sheets("west").size === 3 && sheets("north").size === 2)
    // DSv2 read with allSheets reconstructs the full dataset
    val back = spark.read.format("xlsx").option("header", "true")
      .option("allSheets", "true").load(dir)
    assert(back.count() === 6)
    assert(back.agg(sum("id")).collect()(0).getLong(0) === 21)
    // a sheetColumn missing from the schema errors loudly at planning
    val e = intercept[Exception] {
      df.write.mode("overwrite").format("xlsx").option("sheetColumn", "nope").save(dir + "2")
    }
    def msgs(t: Throwable): String = if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
    assert(msgs(e).toLowerCase.contains("nope"))
  }

  test("sheet names are sanitized, truncated and uniquified; rollover is base_2") {
    import graft.xlsx.CellValue._
    val dir = tempDir("sn") + "/n"
    val longName = "x" * 40
    val df = spark.createDataFrame(Seq(
      (1L, "a/b:c*d?"), (2L, "a_b_c_d_"), (3L, longName)
    )).toDF("id", "k")
    df.write.mode("overwrite").format("xlsx")
      .option("sheetColumn", "k").save(dir)
    val names = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx"))
      .flatMap(f => XlsxReader.forFile(f.getPath).sheetNames).toSet
    // 'a/b:c*d?' sanitizes to a_b_c_d_, colliding with the literal value ->
    // whichever lands second gets the _2 suffix (when they share a task).
    assert(names.exists(_.startsWith("a_b_c_d_")))
    assert(names.forall(_.length <= 31))
    assert(names.contains("x" * 31))

    // rollover continuation sheets: base, base_2, base_3 (VERDICT r2 item 10)
    val dir2 = dir + "2"
    spark.range(250).coalesce(1).write.mode("overwrite").format("xlsx")
      .option("maxRowsPerSheet", "100").option("sheet", "Data").save(dir2)
    val f2 = new java.io.File(dir2).listFiles().find(_.getName.endsWith(".xlsx")).get
    assert(XlsxReader.forFile(f2.getPath).sheetNames === Seq("Data", "Data_2", "Data_3"))
  }

  test("XlsxAppend: rewrite-based file append preserves sheets, types and date styles") {
    import graft.xlsx._
    import CellValue._
    val f = tempDir("xa") + "/wb.xlsx"
    val w = new XlsxWriter(new java.io.FileOutputStream(f))
    w.addSheet("data")
    w.writeRowStyled(Seq((Str("start"), 0), (DateTime(44562.0), CellStyle.DateDefault)))
    w.addSheet("other")
    w.writeRowTyped(Seq(IntVal(7)))
    w.close()

    XlsxAppend.appendRows(f, Seq(Seq(Str("appended"), DateTime(44563.5))), Some("data"))

    val r = XlsxReader.forFile(f)
    assert(r.sheetNames === Seq("data", "other"))
    val data = r.rows("data").toVector
    assert(data.size === 2)
    assert(data(0) === Vector(Str("start"), DateTime(44562.0)))
    assert(data(1) === Vector(Str("appended"), DateTime(44563.5))) // date style survived rewrite
    assert(r.rows("other").toVector === Vector(Vector(IntVal(7))))
    // appending to a missing sheet errors loudly
    val e = intercept[IllegalArgumentException] {
      XlsxAppend.appendRows(f, Seq(Seq(Str("x"))), Some("nope"))
    }
    assert(e.getMessage.contains("not found"))
  }

  test("XlsxAppend: the rollover-continuation stamp survives the rewrite") {
    import graft.xlsx._
    import CellValue._
    val f = tempDir("xa2") + "/wb.xlsx"
    val w = new XlsxWriter(new java.io.FileOutputStream(f))
    w.addSheet("big"); w.writeRowTyped(Seq(IntVal(1)))
    w.addSheet("big_2", continuation = true); w.writeRowTyped(Seq(IntVal(2)))
    w.addSheet("side"); w.writeRowTyped(Seq(IntVal(3)))
    w.close()
    assert(XlsxReader.forFile(f).rolloverContinuations === Some(Set(1)))

    XlsxAppend.appendRows(f, Seq(Seq(IntVal(9))), Some("side"))
    val r = XlsxReader.forFile(f)
    assert(r.rolloverContinuations === Some(Set(1)),
      "append rewrite must not drop the chain stamp")
    assert(r.rows("big_2").toVector === Vector(Vector(IntVal(2))))
    assert(r.rows("side").toVector === Vector(Vector(IntVal(3)), Vector(IntVal(9))))
  }

  test("DSv2 sheet-name selection on a multi-sheet workbook (FIXTURES B3)") {
    import graft.xlsx._
    import CellValue._
    val dir = tempDir("ms")
    val f = s"$dir/book.xlsx"
    val w = new XlsxWriter(new java.io.FileOutputStream(f))
    w.addSheet("Sales")
    w.writeRow(Seq("Month", "Revenue"))
    w.writeRowTyped(Seq(Str("Jan"), IntVal(100)))
    w.writeRowTyped(Seq(Str("Feb"), IntVal(200)))
    w.addSheet("Employees")
    w.writeRow(Seq("ID", "Name"))
    w.writeRowTyped(Seq(IntVal(1), Str("Alice")))
    w.close()

    val sales = spark.read.format("xlsx")
      .option("header", "true").option("sheet", "Sales").load(f)
    assert(sales.columns.toSeq === Seq("Month", "Revenue"))
    assert(sales.agg(sum("Revenue")).collect()(0).getLong(0) === 300)
    val emp = spark.read.format("xlsx")
      .option("header", "true").option("sheet", "Employees").load(f)
    assert(emp.collect().map(_.getString(1)).toSeq === Seq("Alice"))
    // selection by index matches selection by name
    val byIdx = spark.read.format("xlsx")
      .option("header", "true").option("sheetIndex", "1").load(f)
    assert(byIdx.collect().map(_.getString(1)).toSeq === Seq("Alice"))
    // missing sheet errors with the sheet list
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("sheet", "Nope").load(f).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
    assert(msgs(e).contains("not found"))
  }

  test("non-local filesystem scheme goes through the Hadoop streaming path (s3a shape)") {
    // Register an alias scheme backed by the local FS: exercises the
    // fs.open streaming branch of openReader plus the Hadoop write path —
    // the same integration shape as s3a:// / gs:// without network.
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFs].getName)
    val dir = tempDir("mockfs") + "/d"
    spark.range(100).selectExpr("id", "concat('v', id) AS s").repartition(2)
      .write.mode("overwrite").format("xlsx").option("header", "true")
      .save(s"mockfs:$dir")
    val back = spark.read.format("xlsx").option("header", "true")
      .load(s"mockfs:$dir")
    assert(back.count() === 100)
    assert(back.agg(sum("id")).collect()(0).getLong(0) === 4950)
  }

  test("remote-scheme split planning: row-range tasks through ZipRandom ranged reads") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFs].getName)
    val dir = tempDir("mockfs-split") + "/d"
    spark.range(20000).selectExpr("id", "concat('name-', id) AS s").coalesce(1)
      .write.mode("overwrite").format("xlsx").option("header", "true")
      .save(s"mockfs:$dir")
    // small splitBytes forces planSplits down the remote (ZipRandom
    // central-directory) branch: entry sizes, row estimate, ranged opens
    val split = spark.read.format("xlsx").option("header", "true")
      .option("splitBytes", 64 * 1024).load(s"mockfs:$dir")
    assert(split.rdd.getNumPartitions > 1, "remote file did not split")
    assert(split.count() === 20000)
    assert(split.agg(sum("id")).collect()(0).getLong(0) === 20000L * 19999 / 2)
  }

  test("in-memory workbook bytes: the HTTP-response pattern") {
    val df = spark.sql(
      "SELECT id, id * 2.5 AS v, date_add(DATE'2024-01-01', CAST(id AS INT)) AS d FROM range(10)")
    val bytes = XlsxInMemory.workbookBytes(df, sheet = "result")
    val r = XlsxReader.forBytes(bytes)
    assert(r.sheetNames === Seq("result"))
    val rows = r.rows("result").toVector
    assert(rows.size === 11) // header + 10
    assert(rows.head.map(_.asString) === Vector("id", "v", "d"))
  }

  test("in-memory csv bytes: RFC-4180 quoting") {
    val df = spark.sql("""SELECT * FROM VALUES (1, 'plain'), (2, 'with,comma'), (3, 'with "quote"') AS t(id, s)""")
    val csv = new String(XlsxInMemory.csvBytes(df))
    val lines = csv.split("\n")
    assert(lines(0) === "id,s")
    assert(lines.contains("2,\"with,comma\""))
    assert(lines.contains("3,\"with \"\"quote\"\"\""))
  }

  test("in-memory csv bytes keep leading and trailing whitespace, in values and column names") {
    val df = spark.sql("SELECT ' a ' AS ` id `, 'b  ' AS s")
    assert(new String(XlsxInMemory.csvBytes(df), "UTF-8") === " id ,s\n a ,b  \n")
  }

  /** Every exception message down the cause chain. */
  private def msgs(t: Throwable): String = if (t == null) "" else t.getMessage + " " + msgs(t.getCause)

  test("complex-typed cells: the sink and the in-memory workbook write what CAST(... AS STRING) gives") {
    val df = spark.sql("""SELECT array(1, 2) AS a, map('k', 3) AS m,
      named_struct('x', 1, 'y', 'z') AS s, array(TIMESTAMP'2024-01-02 12:00:00') AS t""")
    val cast = df.selectExpr(df.columns.map(c => s"CAST($c AS STRING)"): _*)
      .collect().map(_.toSeq).toSeq
    val dir = tempDir("xcx")
    df.coalesce(1).write.mode("overwrite").format("xlsx").option("header", "true").save(s"$dir/sink")
    val sink = spark.read.format("xlsx").option("header", "true")
      .schema("a STRING, m STRING, s STRING, t STRING").load(s"$dir/sink")
      .collect().map(_.toSeq).toSeq
    assert(sink === cast)
    val inMemory = XlsxReader.forBytes(XlsxInMemory.workbookBytes(df)).rows("Sheet1")
      .drop(1).map(_.map(_.asString)).toSeq
    assert(inMemory === cast)
    // csvBytes writes the same strings, quoted where they hold the separator
    val csv = new String(XlsxInMemory.csvBytes(df, header = false), "UTF-8")
    assert(csv === "\"[1, 2]\",{k -> 3},\"{1, z}\",[2024-01-02 12:00:00]\n")
  }

  test("reading a field no cell maps to fails at planning, naming the field and its type") {
    val dir = tempDir("xcr")
    spark.range(2).selectExpr("id", "CAST(id AS STRING) AS a").coalesce(1)
      .write.mode("overwrite").format("xlsx").option("header", "true").save(s"$dir/t")
    val df = spark.read.format("xlsx").option("header", "true")
      .schema("id LONG, a ARRAY<INT>").load(s"$dir/t")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val e = intercept[Exception](df.collect())
      org.apache.spark.TestListenerBus.drain(sc)
      assert(msgs(e).contains("`a`") && msgs(e).contains("ARRAY<INT>"), msgs(e))
      assert(jobs.get === 0, "the read must fail before any job runs")
    } finally sc.removeSparkListener(listener)
    // the check covers the pruned read schema only: a complex field that is
    // not read does not fail the read
    assert(df.select("id").collect().map(_.getLong(0)).toSeq === Seq(0L, 1L))
    val collated = spark.read.format("xlsx").option("header", "true")
      .schema("id LONG, a STRING COLLATE UTF8_LCASE").load(s"$dir/t")
    assert(collated.collect().map(_.getString(1)).toSeq === Seq("0", "1"))
  }

  test("one timestamp rule: every path agrees on serial 45293.5 and 12:00 in a New York JVM") {
    import graft.xlsx.CellValue.DateTime
    val saved = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/New_York"))
    try {
      graft.functions.GraftFunctions.register(spark)
      val noon = java.time.Instant.parse("2024-01-02T12:00:00Z")
      val noonNtz = java.time.LocalDateTime.parse("2024-01-02T12:00:00")
      val df = spark.sql(
        "SELECT TIMESTAMP'2024-01-02 12:00:00' AS ts, TIMESTAMP_NTZ'2024-01-02 12:00:00' AS ntz")
      val dir = tempDir("xtz")
      // the sink writes the serial; the batch read gives 12:00 back
      df.coalesce(1).write.mode("overwrite").format("xlsx").option("header", "true").save(s"$dir/sink")
      val part = new java.io.File(s"$dir/sink").listFiles().filter(_.getName.endsWith(".xlsx")).head
      assert(XlsxReader.forFile(part.getPath).rows("Sheet1").toVector(1) ===
        Vector(DateTime(45293.5), DateTime(45293.5)))
      val batch = spark.read.format("xlsx").option("header", "true")
        .schema("ts TIMESTAMP, ntz TIMESTAMP_NTZ").load(s"$dir/sink").collect()
      assert(batch.map(r => (r.getTimestamp(0).toInstant, r.getAs[java.time.LocalDateTime](1))).toSeq ===
        Seq((noon, noonNtz)))
      // the streaming read, TIMESTAMP and TIMESTAMP_NTZ fields
      new java.io.File(s"$dir/landing").mkdirs()
      Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/landing/a.xlsx"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL("ts TIMESTAMP, ntz TIMESTAMP_NTZ")
      val q = graft.streaming.StreamingXlsx.readWorkbooks(spark, s"$dir/landing", schema)
        .writeStream.format("memory").queryName("tzstream").outputMode("append").start()
      val streamed = try { q.processAllAvailable(); spark.table("tzstream").collect() } finally q.stop()
      assert(streamed.map(r => (r.getTimestamp(0).toInstant, r.getAs[java.time.LocalDateTime](1))).toSeq ===
        Seq((noon, noonNtz)))
      // the in-memory workbook writes the sink's serials
      assert(XlsxReader.forBytes(XlsxInMemory.workbookBytes(df)).rows("Sheet1").toVector(1) ===
        Vector(DateTime(45293.5), DateTime(45293.5)))
      // the SQL functions use the same rule
      val f = spark.sql("""SELECT graft_excel_ts_encode(TIMESTAMP'2024-01-02 12:00:00'),
                                  graft_excel_serial_to_ts(45293.5)""").collect()(0)
      assert(f.getDouble(0) === 45293.5)
      assert(f.getTimestamp(1).toInstant === noon)
      // csvBytes renders the values as df.write.csv does
      df.coalesce(1).write.csv(s"$dir/csv")
      val written = new java.io.File(s"$dir/csv").listFiles().filter(_.getName.startsWith("part-"))
        .flatMap(p => scala.io.Source.fromFile(p).getLines().toSeq).toSeq
      assert(new String(XlsxInMemory.csvBytes(df, header = false), "UTF-8").split("\n").toSeq === written)
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("in a New York session the timestamp functions and the sink move by the session offset alike") {
    import graft.xlsx.CellValue.DateTime
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try {
      graft.functions.GraftFunctions.register(spark)
      // 12:00 in New York is 17:00 UTC, and the serial is the UTC wall clock
      val serial = 45293 + 17 / 24.0
      val df = spark.sql("SELECT TIMESTAMP'2024-01-02 12:00:00' AS ts")
      val dir = tempDir("xsz")
      df.coalesce(1).write.mode("overwrite").format("xlsx").option("header", "true").save(s"$dir/sink")
      val part = new java.io.File(s"$dir/sink").listFiles().filter(_.getName.endsWith(".xlsx")).head
      assert(XlsxReader.forFile(part.getPath).rows("Sheet1").toVector(1) === Vector(DateTime(serial)))
      val f = spark.sql("""SELECT graft_excel_ts_encode(TIMESTAMP'2024-01-02 12:00:00'),
        CAST(graft_excel_serial_to_ts(45293.5) AS STRING)""").collect()(0)
      assert(f.getDouble(0) === serial)
      assert(f.getString(1) === "2024-01-02 07:00:00")
    } finally spark.conf.set(key, saved)
  }

  test("an unstamped graft workbook reads the same chain before and after XlsxAppend") {
    import graft.xlsx._
    import CellValue._
    val dir = tempDir("xlegacy")
    val stamped = s"$dir/stamped.xlsx"
    val w = new XlsxWriter(new java.io.FileOutputStream(stamped))
    Seq("Data" -> 1L, "Data_2" -> 2L, "Other" -> 3L).foreach { case (name, v) =>
      w.addSheet(name); w.writeRow(Seq("id")); w.writeRowTyped(Seq(IntVal(v)))
    }
    w.close()
    // the same workbook without docProps/custom.xml: a graft file from
    // before the rollover stamp existed
    val f = s"$dir/legacy.xlsx"
    val in = new java.util.zip.ZipInputStream(new java.io.FileInputStream(stamped))
    val out = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(f))
    try {
      var e = in.getNextEntry
      while (e != null) {
        if (e.getName != "docProps/custom.xml") {
          out.putNextEntry(new java.util.zip.ZipEntry(e.getName))
          in.transferTo(out)
          out.closeEntry()
        }
        e = in.getNextEntry
      }
    } finally { in.close(); out.close() }
    val r = XlsxReader.forFile(f)
    assert(r.application === Some("graft") && r.rolloverContinuations === None)

    def defaultRead(): Seq[Long] = spark.read.format("xlsx").option("header", "true").load(f)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(defaultRead() === Seq(1L, 2L))
    XlsxAppend.appendRows(f, Seq(Seq(IntVal(9L))))
    assert(defaultRead() === Seq(1L, 2L, 9L))
    assert(XlsxReader.forFile(f).rolloverContinuations === Some(Set(1)))
  }
}
