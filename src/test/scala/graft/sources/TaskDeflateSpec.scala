package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.Deflater

import graft.xlsx.ZipRandom
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Spark write tasks deflate each ZIP entry as one sequential stream, never
  * on the codec's shared deflate pool: the task's siblings already hold the
  * other cores. Every multi-block sheet of a DSv2 xlsx write and every
  * `.csv.zip` `data.csv` must store exactly what one `Deflater(6, nowrap)`
  * makes of its inflated bytes. */
class TaskDeflateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plainDeflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new Deflater(6, true)
    try {
      d.setInput(bytes)
      d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  private def readAll(in: java.io.InputStream): Array[Byte] = try in.readAllBytes() finally in.close()

  /** Checks every entry of `file` that `pick` names; returns how many. */
  private def assertPlain(file: java.io.File, pick: String => Boolean): Int = {
    val in = ZipRandom.SeekableInput.forFile(file.getPath)
    val picked = ZipRandom.entries(in).filter(e => pick(e.name))
    picked.foreach { e =>
      val inflated = readAll(ZipRandom.openEntry(in, e))
      assert(inflated.length > 2 * 128 * 1024, s"${file.getName} ${e.name} spans a single block")
      assert(java.util.Arrays.equals(readAll(ZipRandom.openRaw(in, e)), plainDeflate(inflated)),
        s"${file.getName} ${e.name} is not one plain deflate stream")
    }
    picked.size
  }

  private def rows = spark.range(40000).repartition(4)
    .selectExpr("id", "concat('row-', id, '-', id * 7) AS s", "id * 1.5 AS d")

  test("DSv2 xlsx write tasks store one plain deflate stream per sheet") {
    val dir = Files.createTempDirectory("taskdeflate-xlsx").toString + "/d"
    rows.write.mode("overwrite").format("xlsx").option("header", "true").save(dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx"))
    assert(parts.length === 4)
    assert(parts.map(assertPlain(_, _.startsWith("xl/worksheets/"))).sum === 4)
  }

  test("ZipCsvCodec write tasks store data.csv as one plain deflate stream") {
    graft.sources.csv.ZipCsvCodec.register(spark)
    val dir = Files.createTempDirectory("taskdeflate-csv").toString + "/d"
    rows.write.mode("overwrite").option("compression", graft.sources.csv.ZipCsvCodec.Name).csv(dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv.zip"))
    assert(parts.length === 4)
    assert(parts.map(assertPlain(_, _ == "data.csv")).sum === 4)
  }
}
