package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Parallel single-workbook write (`singleFile=true`): partitions deflate
  * their own sheet payloads, the driver stitches one valid .xlsx at commit.
  * Validity is checked three ways: our own reader, java.util.zip.ZipFile
  * (an independent ZIP implementation verifying CRCs), and ZipRandom (the
  * ranged-read path, exercising the hand-written central directory). */
class XlsxSingleFileSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("xlsx-singlefile-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(): String = Files.createTempDirectory("sf").toString

  private def zipValid(path: String): Unit = {
    val zf = new java.util.zip.ZipFile(path)
    try {
      val es = zf.entries()
      while (es.hasMoreElements) {
        val e = es.nextElement()
        // fully read every entry: ZipFile verifies the CRC on stream close
        val in = zf.getInputStream(e)
        val buf = new Array[Byte](8192)
        while (in.read(buf) >= 0) {}
        in.close()
      }
    } finally zf.close()
  }

  test("singleFile: N partitions stitch into one workbook; default read = written rows") {
    val dir = tmp()
    val f = s"$dir/book.xlsx"
    spark.range(1000).repartition(7).selectExpr("id", "id * 2 AS dbl")
      .write.mode("overwrite").format("xlsx")
      .option("header", "true").option("singleFile", "true").save(f)
    // one output workbook, no fragment leftovers (.book.xlsx.crc is the
    // Hadoop LocalFileSystem checksum sidecar, present for any write)
    val listed = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(listed.filterNot(_.endsWith(".crc")) === Seq("book.xlsx"), s"unexpected files: $listed")
    assert(!listed.exists(_.contains(".frag-")), s"fragment leftovers: $listed")
    zipValid(f)
    val back = spark.read.format("xlsx").option("header", "true").load(f)
    assert(back.count() === 1000)
    assert(back.agg(sum("id")).collect()(0).getLong(0) === 999L * 1000 / 2)
    assert(back.agg(sum("dbl")).collect()(0).getLong(0) === 999L * 1000)
    // the chain is stamped: 7 partitions -> up to 7 continuation sheets
    val r = graft.xlsx.XlsxReader.forFile(f)
    assert(r.sheetNames.head === "Sheet1")
    assert(r.rolloverContinuations.get === r.sheetNames.indices.drop(1).toSet)
    // ZipRandom parses the hand-written central directory
    val zin = graft.xlsx.ZipRandom.SeekableInput.forFile(f)
    val entries = graft.xlsx.ZipRandom.entries(zin)
    assert(entries.map(_.name).count(_.startsWith("xl/worksheets/")) === r.sheetNames.size)
    entries.foreach { e =>
      val s = graft.xlsx.ZipRandom.openEntry(zin, e)
      val bytes = try s.readAllBytes() finally s.close()
      assert(bytes.length.toLong === e.uncompressedSize, s"${e.name} size mismatch")
      val crc = new java.util.zip.CRC32; crc.update(bytes)
      assert(crc.getValue === e.crc, s"${e.name} CRC mismatch")
    }
  }

  test("singleFile preserves partition-order row order") {
    val dir = tmp()
    val f = s"$dir/ordered.xlsx"
    // 3 ordered partitions via repartitionByRange + sort
    spark.range(300).repartitionByRange(3, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").format("xlsx")
      .option("header", "true").option("singleFile", "true").save(f)
    val back = spark.read.format("xlsx").option("header", "true").load(f)
      .collect().map(_.getLong(0)).toSeq
    assert(back === back.sorted, "rows out of order across stitched partitions")
    assert(back.size === 300)
  }

  test("singleFile + sheetColumn: key-named sheets in one workbook") {
    val dir = tmp()
    val f = s"$dir/keyed.xlsx"
    spark.range(40).selectExpr("id", "concat('g', id % 4) AS grp")
      .write.mode("overwrite").format("xlsx")
      .option("header", "true").option("sheetColumn", "grp")
      .option("singleFile", "true").save(f)
    zipValid(f)
    val r = graft.xlsx.XlsxReader.forFile(f)
    assert(r.sheetNames.toSet === Set("g0", "g1", "g2", "g3"))
    assert(r.rolloverContinuations.get === Set.empty[Int])
    val all = spark.read.format("xlsx").option("header", "true")
      .option("allSheets", "true").option("sheetNameColumn", "_sheet").load(f)
    assert(all.count() === 40)
    assert(all.filter(col("_sheet") === "g2").count() === 10)
  }

  test("singleFile rollover: maxRowsPerSheet chains across and within partitions") {
    val dir = tmp()
    val f = s"$dir/roll.xlsx"
    spark.range(500).repartition(2)
      .write.mode("overwrite").format("xlsx")
      .option("header", "true").option("maxRowsPerSheet", "100")
      .option("singleFile", "true").save(f)
    val r = graft.xlsx.XlsxReader.forFile(f)
    assert(r.sheetNames.size >= 6, s"expected >=6 rollover sheets, got ${r.sheetNames}")
    val back = spark.read.format("xlsx").option("header", "true").load(f)
    assert(back.count() === 500)
    assert(back.agg(sum("id")).collect()(0).getLong(0) === 499L * 500 / 2)
  }

  test("singleFile: empty frame still writes a valid workbook with the header") {
    val dir = tmp()
    val f = s"$dir/empty.xlsx"
    spark.range(10).filter(col("id") < 0).selectExpr("id", "id AS x")
      .write.mode("overwrite").format("xlsx")
      .option("header", "true").option("singleFile", "true").save(f)
    zipValid(f)
    val r = graft.xlsx.XlsxReader.forFile(f)
    assert(r.sheetNames === Seq("Sheet1"))
    assert(r.rows("Sheet1").toVector ===
      Vector(Vector[graft.xlsx.CellValue](
        graft.xlsx.CellValue.Str("id"), graft.xlsx.CellValue.Str("x"))))
  }

  test("singleFile overwrite replaces the previous workbook") {
    val dir = tmp()
    val f = s"$dir/ow.xlsx"
    spark.range(50).write.mode("overwrite").format("xlsx")
      .option("header", "true").option("singleFile", "true").save(f)
    spark.range(5).write.mode("overwrite").format("xlsx")
      .option("header", "true").option("singleFile", "true").save(f)
    val back = spark.read.format("xlsx").option("header", "true").load(f)
    assert(back.count() === 5)
  }

  test("singleFile with more partitions than rows: one sheet per non-empty partition") {
    val dir = tmp()
    val f = s"$dir/sparse.xlsx"
    val df = spark.range(3).repartition(8)
    // the written order: partition by partition
    val parts = df.rdd.glom().collect().map(_.map(_.longValue).toSeq).filter(_.nonEmpty)
    df.write.mode("overwrite").format("xlsx")
      .option("header", "true").option("singleFile", "true").save(f)
    zipValid(f)
    val back = spark.read.format("xlsx").option("header", "true").load(f)
      .collect().map(_.getLong(0)).toSeq
    assert(back === parts.flatten.toSeq)
    assert(graft.xlsx.XlsxReader.forFile(f).sheetNames.size === parts.length)
  }
}
