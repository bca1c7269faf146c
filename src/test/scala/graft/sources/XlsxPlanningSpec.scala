package graft.sources

import java.nio.file.Files

import graft.xlsx.XlsxReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Read planning: a listing with fewer files than the default parallelism
  * reads one task per selected sheet; a larger listing reads one task per
  * file and opens nothing on the driver. Also the scan's row and byte
  * metrics. */
class XlsxPlanningSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("xlsx-planning-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(): String = Files.createTempDirectory("xlsxplan").toString

  private val idSchema = StructType(Seq(StructField("id", LongType)))

  /** 600 ids in `k` range partitions, stitched into one workbook: one sheet
    * per partition, each with its own header row. */
  private def stitched(k: Int): String = {
    val f = tmp() + "/book.xlsx"
    spark.range(600).repartitionByRange(k, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").format("xlsx")
      .option("header", "true").option("singleFile", "true").save(f)
    assert(XlsxReader.forFile(f).sheetNames.size === k)
    f
  }

  private def scan(df: DataFrame): BatchScanExec =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.head

  test("a singleFile workbook stitched from k partitions plans k tasks and reads in partition order") {
    val f = stitched(5)
    val df = spark.read.format("xlsx").schema(idSchema).option("header", "true").load(f)
    assert(df.rdd.getNumPartitions === 5)
    assert(df.collect().map(_.getLong(0)).toSeq === (0L until 600L))
    // every task holds one sheet's ids, and the tasks follow sheet order
    val byTask = df.groupBy(spark_partition_id().as("task"))
      .agg(min("id"), max("id")).orderBy("task").collect()
    assert(byTask.length === 5)
    byTask.sliding(2).foreach { case Array(a, b) => assert(a.getLong(2) < b.getLong(1)) }
  }

  test("a listing of at least default-parallelism files plans one task per file and opens no ZIP on the driver") {
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl", classOf[MockFs].getName)
    val dir = tmp() + "/many"
    // 4 files of 100 rows, each rolled over into 2 sheets
    spark.range(400).repartition(4).write.mode("overwrite").format("xlsx")
      .option("header", "true").option("maxRowsPerSheet", "60").save(s"mockfs:$dir")
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx"))
    assert(files.length === spark.sparkContext.defaultParallelism)
    assert(files.forall(f => XlsxReader.forFile(f.getPath).sheetNames.size == 2))
    MockFs.opens.set(0)
    val df = spark.read.format("xlsx").schema(idSchema).option("header", "true").load(s"mockfs:$dir")
    assert(df.rdd.getNumPartitions === files.length)
    assert(MockFs.opens.get === 0, "planning opened files on the driver")
    assert(df.count() === 400L)
    assert(MockFs.opens.get > 0, "the open counter saw no task reads")
    // one of those files alone is a small listing: one task per sheet
    val one = spark.read.format("xlsx").schema(idSchema).option("header", "true")
      .load(s"mockfs:${files.head.getPath}")
    assert(one.rdd.getNumPartitions === 2)
    assert(one.count() === 100L)
  }

  test("sheetNameColumn and header keep their meaning under per-sheet tasks") {
    val f = stitched(3)
    val r = XlsxReader.forFile(f)
    val expected = r.sheetNames.flatMap { s =>
      r.rows(s).drop(1).map(cells => (s, cells.head.asLong.get)).toSeq
    }
    val df = spark.read.format("xlsx").option("header", "true")
      .option("sheetNameColumn", "_sheet").load(f)
    assert(df.rdd.getNumPartitions === 3)
    assert(df.columns.toSeq === Seq("id", "_sheet"))
    val got = df.collect().map(row => (row.getString(1), row.getLong(0))).toSeq
    assert(got === expected)
    assert(expected.size === 600)
    // header=false: every sheet's header row comes through as data
    val raw = spark.read.format("xlsx").option("header", "false").load(f)
    assert(raw.count() === 603L)
  }

  test("the scan reports rows read and inflated sheet bytes as SQL metrics") {
    val f = stitched(3)
    val r = XlsxReader.forFile(f)
    val zip = new java.util.zip.ZipFile(f)
    val sheetBytes = try r.sheetCatalog.map { case (_, part) => zip.getEntry(part).getSize }.sum
      finally zip.close()
    val df = spark.read.format("xlsx").schema(idSchema).option("header", "true").load(f)
    assert(df.collect().length === 600)
    val metrics = scan(df).metrics
    // 600 data rows plus one header row per sheet, every sheet read to its end
    assert(metrics("xlsxRowsRead").value === 603L)
    assert(metrics("xlsxSheetBytes").value === sheetBytes)
  }
}
