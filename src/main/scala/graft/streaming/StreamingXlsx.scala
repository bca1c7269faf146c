package graft.streaming

import graft.xlsx.{CellValue, ExcelDate}
import graft.sources.xlsx.XlsxTable
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming xlsx source: `readWorkbooks` turns a landing directory of
  * workbook drops into an unbounded DataFrame — the Spark-idiomatic
  * equivalent of the reference's S3-triggered Lambda→Excel pipeline
  * (ref: README.md:460-472), feeding the existing watermarked windowed
  * aggregates instead of per-file lambda invocations.
  *
  * Deliberately built ON Spark's `binaryFile` file stream rather than a
  * hand-rolled MicroBatchStream: FileStreamSource already solves the hard
  * part — exactly-once discovery of new files, a persisted seen-files log,
  * checkpoint recovery — so each micro-batch hands us (path, content) rows
  * for NEW workbooks only, and the workbook parses on the executor with
  * the same XlsxReader core as the batch DSv2 (rollover-continuation
  * default read included). A dropped file appears in the output exactly
  * once per its rows; a restart from checkpoint neither re-emits nor
  * loses files.
  *
  * Scale shape: the unit of parallelism is the FILE (one content blob per
  * row — workbooks in a landing zone are operationally file-sized; the
  * multi-GB-single-workbook case belongs to the batch DSv2's split scan).
  * Parsing is partition-parallel across files; nothing shuffles until the
  * downstream aggregation.
  *
  * Supported schema field types: string, long, int, double, boolean,
  * date, timestamp — the cell-model types the write side emits. */
object StreamingXlsx {

  def readWorkbooks(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      header: Boolean = true,
      sheet: Option[String] = None): DataFrame = {
    val convs: Array[CellValue => Any] = schema.fields.map(f => external(f.dataType))
    val width = schema.fields.length
    val sheetOpt = sheet // avoid capturing `this`-adjacent state in the closure
    val parse = (content: Array[Byte]) => {
      val reader = graft.xlsx.XlsxReader.forBytes(content)
      val sheets = XlsxTable.selectSheets(reader, sheetOpt, sheetIndex = None, allSheets = false)
      sheets.iterator.flatMap { s =>
        val it = reader.rows(s)
        val data = if (header && it.hasNext) { it.next(); it } else it
        data.map { cells =>
          val values = new Array[Any](width)
          var i = 0
          while (i < width) {
            values(i) = if (i < cells.size) convs(i)(cells(i)) else null
            i += 1
          }
          Row.fromSeq(values.toIndexedSeq)
        }
      }.toSeq
    }
    // binaryFile's schema is fixed but a STREAMING source requires it
    // declared up front (no inference on unbounded sources)
    val bin = spark.readStream.format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", "*.xlsx")
      .load(dir)
      .select(col("content"))
    import spark.implicits._
    bin.as[Array[Byte]].flatMap(parse)(Encoders.row(schema))
  }

  /** CellValue → external JVM value for one Spark type — the Row-facing
    * twin of the batch scan's internal converter
    * (XlsxPartitionReader.converter), same lenient coercions. */
  private def external(dt: DataType): CellValue => Any = dt match {
    case StringType => {
      case CellValue.Empty       => null
      case CellValue.DateTime(s) => ExcelDate.format(s).getOrElse(CellValue.formatDouble(s))
      case c                     => c.asString
    }
    case LongType    => c => c.asLong.map(java.lang.Long.valueOf(_)).orNull
    case IntegerType => c => c.asLong.map(l => java.lang.Integer.valueOf(l.toInt)).orNull
    case DoubleType  => c => c.asDouble.map(java.lang.Double.valueOf(_)).orNull
    case BooleanType => c => c.asBool.map(java.lang.Boolean.valueOf(_)).orNull
    case DateType => c =>
      serialOf(c).flatMap(ExcelDate.toDate).map(java.sql.Date.valueOf).orNull
    case TimestampType | TimestampNTZType => c =>
      serialOf(c).flatMap(ExcelDate.toDateTime).map(java.sql.Timestamp.valueOf).orNull
    case other => throw new IllegalArgumentException(
      s"streaming xlsx supports string/long/int/double/boolean/date/timestamp fields, got $other")
  }

  private def serialOf(c: CellValue): Option[Double] = c match {
    case CellValue.DateTime(s) => Some(s)
    case CellValue.IntVal(i)   => Some(i.toDouble)
    case CellValue.FloatVal(f) => Some(f)
    case CellValue.Str(s)      => s.toDoubleOption
    case _                     => None
  }

  /** The demo pipeline from SURVEY §2.6: workbooks dropped in `dir` carry
    * (user_id, event_type, ts) rows; output = watermarked tumbling-window
    * event counts, append-mode-compatible (closed windows emit once). */
  def windowedEventCounts(
      spark: SparkSession, dir: String,
      window: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("ts", TimestampType)))
    readWorkbooks(spark, dir, schema)
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("events"), approx_count_distinct("user_id").as("approx_users"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("events"), col("approx_users"))
  }
}
