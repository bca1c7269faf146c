package graft.streaming

import java.io.FileOutputStream

import graft.sources.TempDirs
import graft.xlsx.{CellStyle, CellValue, ExcelDate, XlsxWriter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming xlsx source (SURVEY §2.6's producer side): workbooks dropped
  * into a landing directory mid-stream appear EXACTLY ONCE in the windowed
  * output — the Spark-idiomatic form of the reference's S3-triggered
  * Excel pipeline. */
class StreamingXlsxSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-xlsx-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** One landing-zone workbook: (user_id, event_type, ts) rows. */
  private def dropWorkbook(dir: String, name: String,
      rows: Seq[(Long, String, String)]): Unit = {
    val w = new XlsxWriter(new FileOutputStream(s"$dir/$name"))
    w.addSheet("events")
    w.writeHeaderBold(Seq("user_id", "event_type", "ts"))
    rows.foreach { case (u, t, ts) =>
      w.writeRowStyled(Seq(
        (CellValue.IntVal(u), 0), (CellValue.Str(t), 0),
        (CellValue.DateTime(ExcelDate.fromDateTime(
          java.time.LocalDateTime.parse(ts))), CellStyle.DateTimestamp)))
    }
    w.close()
  }

  test("workbooks dropped mid-stream appear exactly once in the windowed output") {
    val base = tempDir("sxlsx")
    val in = s"$base/landing"
    new java.io.File(in).mkdirs()

    dropWorkbook(in, "a.xlsx", Seq(
      (1L, "view", "2024-01-01T10:05:00"),
      (2L, "view", "2024-01-01T10:15:00"),
      (1L, "click", "2024-01-01T10:20:00")))

    val out = StreamingXlsx.windowedEventCounts(spark, in,
      window = "1 hour", watermark = "4 hours")
    val q = out.writeStream.format("memory").queryName("wxlsx")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val after1 = spark.sql("SELECT sum(events) FROM wxlsx").collect()(0).getLong(0)
      assert(after1 === 3L, s"first workbook rows missing: $after1")

      // drop two more files MID-STREAM: one new window, one adding to the
      // existing 10:00 window
      dropWorkbook(in, "b.xlsx", Seq(
        (3L, "view", "2024-01-01T11:10:00"),
        (3L, "click", "2024-01-01T11:30:00")))
      dropWorkbook(in, "c.xlsx", Seq(
        (4L, "view", "2024-01-01T10:40:00")))
      q.processAllAvailable()

      val rows = spark.sql(
        """SELECT date_format(window_start, 'HH:mm') AS w, event_type, events
           FROM wxlsx ORDER BY w, event_type""").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      // exactly once: 10:00 has 3 views (2 from a.xlsx + 1 from c.xlsx)
      // and 1 click; 11:00 has 1 view + 1 click — no file double-counted
      assert(rows === Seq(
        ("10:00", "click", 1L), ("10:00", "view", 3L),
        ("11:00", "click", 1L), ("11:00", "view", 1L)), s"got $rows")

      // re-triggering with NO new files must not re-emit or re-count
      q.processAllAvailable()
      val total = spark.sql("SELECT sum(events) FROM wxlsx").collect()(0).getLong(0)
      assert(total === 6L, s"rows double-counted on an empty trigger: $total")
    } finally q.stop()
  }

  test("typed schema read: dates, numerics and rollover chains stream through") {
    val base = tempDir("sxlsx2")
    val in = s"$base/landing"
    new java.io.File(in).mkdirs()
    // a workbook with a rollover chain (maxRowsPerSheet via the DSv2 would
    // stamp it; hand-build the same shape here)
    val w = new XlsxWriter(new FileOutputStream(s"$in/chain.xlsx"))
    w.addSheet("data")
    w.writeHeaderBold(Seq("id", "val"))
    w.writeRowStyled(Seq((CellValue.IntVal(1), 0), (CellValue.FloatVal(1.5), 0)))
    w.addSheet("data_2", continuation = true)
    w.writeHeaderBold(Seq("id", "val"))
    w.writeRowStyled(Seq((CellValue.IntVal(2), 0), (CellValue.FloatVal(2.5), 0)))
    w.close()

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("val", org.apache.spark.sql.types.DoubleType)))
    val df = StreamingXlsx.readWorkbooks(spark, in, schema)
    val q = df.writeStream.format("memory").queryName("chain").outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, val FROM chain ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // the continuation sheet streams through the default read (stamp)
      assert(rows === Seq((1L, 1.5), (2L, 2.5)), s"got $rows")
    } finally q.stop()
  }
}
