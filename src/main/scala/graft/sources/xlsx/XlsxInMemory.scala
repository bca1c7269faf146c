package graft.sources.xlsx

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import graft.xlsx.XlsxWriter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions.{col, struct, to_csv}
import org.apache.spark.sql.types._

/** Whole-workbook-as-bytes builder — the reference's HTTP writer pattern
  * (ref: src/cloud/http_writer.rs:44-241 xlsx, src/http_csv_writer.rs:177-342
  * csv): build a small result set into an in-memory workbook for an HTTP
  * response, no filesystem involved.
  *
  * Driver-side by design: `toLocalIterator` streams partitions one at a
  * time, so driver memory is bounded by one partition + the (compressed)
  * output buffer — the use case is "serve a query result as a download",
  * not bulk export (use `df.write.format("xlsx")` for that).
  *
  * Neither builder has an encoding of its own: cells come from the xlsx
  * sink's [[XlsxDataWriter.getter]], CSV lines from Spark's CSV generator.
  */
object XlsxInMemory {

  def workbookBytes(
      df: DataFrame,
      sheet: String = "Sheet1",
      header: Boolean = true,
      compression: Int = 6): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64 * 1024)
    val w = new XlsxWriter(bos, compression)
    w.addSheet(sheet)
    val fields = df.schema.fields
    if (header) w.writeHeaderBold(fields.map(_.name))
    val zone = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    val getters = fields.indices.map(i => XlsxDataWriter.getter(fields(i).dataType, i, zone))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(df.schema)
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val row = toInternal(it.next()).asInstanceOf[InternalRow]
      w.writeRowStyled(getters.iterator.map(_(row)))
    }
    w.close()
    bos.toByteArray
  }

  /** CSV counterpart (ref: src/http_csv_writer.rs): Spark's CSV encoding
    * of each row, the one `df.write.csv` uses, with the reference
    * encoder's RFC-4180 quoting — a quote inside a field is doubled, an
    * empty string is an empty field, like a null, and leading and trailing
    * whitespace is kept (ref: src/csv/encoder.rs:57-122). */
  def csvBytes(df: DataFrame, sep: Char = ',', header: Boolean = true): Array[Byte] = {
    val options = Map("sep" -> sep.toString, "escape" -> "\"", "emptyValue" -> "",
      "ignoreLeadingWhiteSpace" -> "false", "ignoreTrailingWhiteSpace" -> "false").asJava
    val out = new ByteArrayOutputStream(64 * 1024)
    def writeLines(frame: DataFrame): Unit = {
      // array, map, struct and variant columns go as CAST(col AS STRING),
      // the string the workbook builder writes for them (to_csv's own
      // rendering differs: a nested timestamp comes out in ISO form)
      val cells = frame.schema.fields.indices.map { i =>
        frame.schema(i).dataType match {
          case _: ArrayType | _: MapType | _: StructType | _: VariantType => col(s"_$i").cast(StringType)
          case _ => col(s"_$i")
        }
      }
      val it = frame.toDF(cells.indices.map(i => s"_$i"): _*)
        .select(to_csv(struct(cells: _*), options)).toLocalIterator()
      while (it.hasNext) out.write((it.next().getString(0) + "\n").getBytes(UTF_8))
    }
    if (header) {
      val names = df.columns.toSeq
      writeLines(df.sparkSession.createDataFrame(java.util.List.of(Row.fromSeq(names)),
        StructType(names.map(StructField(_, StringType)))))
    }
    writeLines(df)
    out.toByteArray
  }
}
