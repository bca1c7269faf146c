package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** ignoreCorruptFiles on the xlsx source: a 100 TB directory scan meets
  * truncated uploads and non-zip garbage; with the flag on the job skips
  * the bad FILE (xlsx is one ZIP — the natural corruption granularity)
  * and keeps every readable row, mirroring Spark's own
  * `spark.sql.files.ignoreCorruptFiles` semantics. Off by default:
  * corruption fails the job loudly. */
class XlsxCorruptFilesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("xlsx-corrupt-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(): String = Files.createTempDirectory("xlsxcorrupt").toString

  private val schema = StructType(Seq(StructField("id", LongType)))

  /** dir with one good 20-row workbook plus two corrupt .xlsx files:
    * pure garbage (not a ZIP) and a truncated copy of the good one
    * (central directory cut off). Corrupt names sort FIRST so schema
    * inference meets them before the readable file. */
  private def mixedDir(): String = {
    val dir = tmp() + "/mix"
    spark.range(20).coalesce(1).write.mode("overwrite").format("xlsx")
      .option("header", "true").save(dir)
    Files.write(Paths.get(s"$dir/a_garbage.xlsx"),
      "this is not a zip archive at all".getBytes("UTF-8"))
    val good = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head.toPath
    val bytes = Files.readAllBytes(good)
    Files.write(Paths.get(s"$dir/a_truncated.xlsx"),
      java.util.Arrays.copyOf(bytes, bytes.length / 2))
    dir
  }

  test("default (flag off): a corrupt file fails the scan loudly") {
    val dir = mixedDir()
    val ex = intercept[Exception] {
      spark.read.format("xlsx").schema(schema)
        .option("header", "true").load(dir).count()
    }
    assert(ex != null)
  }

  test("flag on: corrupt files skipped, every readable row kept, inference works") {
    val dir = mixedDir()
    // inference path: corrupt files sort first and must be skipped there too
    val df = spark.read.format("xlsx")
      .option("header", "true").option("ignoreCorruptFiles", "true").load(dir)
    assert(df.schema.fieldNames.toSeq === Seq("id"))
    assert(df.count() === 20)
    assert(df.agg(org.apache.spark.sql.functions.sum("id"))
      .collect()(0).getLong(0) === 190L)
  }

  test("spark.sql.files.ignoreCorruptFiles governs the xlsx source too") {
    val dir = mixedDir()
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      val df = spark.read.format("xlsx").schema(schema)
        .option("header", "true").load(dir)
      assert(df.count() === 20)
      // the per-source option overrides the global conf back to strict
      intercept[Exception] {
        spark.read.format("xlsx").schema(schema).option("header", "true")
          .option("ignoreCorruptFiles", "false").load(dir).count()
      }
    } finally spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
  }

  test("mid-sheet corruption: rows before the breakage survive, file ends cleanly") {
    val dir = tmp() + "/mid"
    new java.io.File(dir).mkdirs()
    // valid ZIP, valid workbook metadata, sheet XML truncated mid-row-4:
    // the file-level open succeeds and the parse dies STREAMING — the
    // already-yielded rows must be kept (Spark's read-what-was-read rule)
    val fullSheet =
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        (1 to 5).map(i =>
          s"""<row r="$i"><c r="A$i" t="inlineStr"><is><t>v$i</t></is></c></row>""").mkString
    val cut = fullSheet.substring(0, fullSheet.indexOf("<row r=\"4\"") + 14)
    val z = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(s"$dir/broken.xlsx"))
    def entry(name: String, content: String): Unit = {
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml", cut)
    z.close()

    val strSchema = StructType(Seq(StructField("c0", StringType)))
    // strict: fails
    intercept[Exception] {
      spark.read.format("xlsx").schema(strSchema).load(s"$dir/broken.xlsx").count()
    }
    // tolerant: first rows kept, no failure
    val got = spark.read.format("xlsx").schema(strSchema)
      .option("ignoreCorruptFiles", "true").load(s"$dir/broken.xlsx")
      .collect().map(_.getString(0))
    assert(got.length >= 1 && got.length < 5, s"got ${got.toSeq}")
    assert(got.head === "v1")
  }

  test("truncated uploads on a remote scheme: strict reads fail, the flag skips them") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFs].getName)
    val dir = tmp() + "/cut"
    spark.range(20).coalesce(1).write.mode("overwrite").format("xlsx")
      .option("header", "true").save(dir)
    val good = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head.toPath
    val bytes = Files.readAllBytes(good)
    val firstPart = graft.xlsx.ZipRandom.entries(graft.xlsx.ZipRandom.SeekableInput.forFile(good.toString))
      .filterNot(_.name.startsWith("xl/worksheets/")).map(_.localHeaderOffset).min
    // (a) cut at the first package part: the sheet survives, the workbook
    // catalog and the central directory do not
    Files.write(Paths.get(s"$dir/a_cut_at_parts.xlsx"), java.util.Arrays.copyOf(bytes, firstPart.toInt))
    // (b) the last 200 bytes gone: every entry survives, the directory does not
    Files.write(Paths.get(s"$dir/a_cut_in_directory.xlsx"),
      java.util.Arrays.copyOf(bytes, bytes.length - 200))
    def msgs(t: Throwable): String = if (t == null) "" else t.getMessage + " " + msgs(t.getCause)
    Seq("a_cut_at_parts.xlsx", "a_cut_in_directory.xlsx").foreach { name =>
      val ex = intercept[Exception] {
        spark.read.format("xlsx").schema(schema).option("header", "true")
          .load(s"mockfs:$dir/$name").count()
      }
      assert(msgs(ex).contains("end-of-central-directory"), s"$name: ${msgs(ex)}")
    }
    val tolerant = spark.read.format("xlsx").schema(schema).option("header", "true")
      .option("ignoreCorruptFiles", "true").load(s"mockfs:$dir")
    assert(tolerant.collect().map(_.getLong(0)).sorted.toSeq === (0L until 20L))
    // inference meets the cut copies first and skips them as well
    val inferred = spark.read.format("xlsx").option("header", "true")
      .option("ignoreCorruptFiles", "true").load(s"mockfs:$dir")
    assert(inferred.count() === 20L)
  }
}
