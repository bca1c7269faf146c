package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.sources.csv.CsvSingleFile
import graft.xlsx.{CellValue, XlsxReader, XlsxWriter}

/** The paper's own surface: DSv2 xlsx writes (partitioned and stitched
  * into one workbook), the one-file gzip CSV, DSv2 reads of both xlsx
  * outputs, and a single-thread codec pass over the reference's
  * 30-column shape. No shuffle; the codec and the DSv2 tasks do the work. */
final class TabularIo(ctx: Ctx, scale: Scale) extends Workload {
  import TabularIo._
  val name = "tabular_io"
  override val setups: Int = scale.setups
  private val spark = ctx.spark
  private val root = Paths.get(ctx.path(s"$name-${scale.name}"))
  private val xlsxDir = root.resolve("xlsx_dir").toString
  private val book = root.resolve("book").resolve("book.xlsx").toString
  private val csv = root.resolve("csv").resolve("data.csv.gz").toString
  private val codecFile = root.resolve("codec.xlsx").toString

  private var li: DataFrame = _
  private var expected: Seq[Long] = Nil
  private var reference: Array[Array[CellValue]] = Array.empty
  private var referenceSum = 0L
  private val fileBytes = scala.collection.mutable.Map.empty[String, Long]

  def setup(): Unit = {
    if (li != null) li.unpersist(blocking = true)
    li = Inputs.lineitem(spark, ctx.seed, scale.lineitemRows, ctx.nproc)
      .persist(StorageLevel.MEMORY_ONLY)
    expected = Inputs.checksum(li)
    reference = Inputs.referenceRows(ctx.seed, scale.referenceRows)
    referenceSum = reference.iterator.map(cellsSum).sum
  }

  private def read(path: String, format: String): DataFrame = {
    val r = spark.read.schema(Inputs.lineitemSchema).option("header", "true")
    if (format == "csv") r.csv(path) else r.format(format).load(path)
  }

  def cycle(): Unit = {
    ctx.step("xlsx_write") {
      li.write.mode("overwrite").format("xlsx").option("header", "true").save(xlsxDir)
    }
    fileBytes("xlsx_write") = bytesUnder(xlsxDir)
    ctx.step("xlsx_single_file_write") {
      li.write.mode("overwrite").format("xlsx").option("header", "true")
        .option("singleFile", "true").save(book)
    }
    fileBytes("xlsx_single_file_write") = bytesUnder(book)
    ctx.step("csv_single_file_write") {
      CsvSingleFile.write(li, csv, Map("header" -> "true", "compression" -> "gzip"))
    }
    fileBytes("csv_single_file_write") = bytesUnder(csv)
    fileBytes("xlsx_read") = fileBytes("xlsx_write")
    fileBytes("xlsx_single_file_read") = fileBytes("xlsx_single_file_write")

    val dir = ctx.step("xlsx_read")(Inputs.checksum(read(xlsxDir, "xlsx")))
    ctx.check("xlsx_read: row count and column checksums equal the source")(dir.contains(expected))
    val one = ctx.step("xlsx_single_file_read")(Inputs.checksum(read(book, "xlsx")))
    ctx.check("xlsx_single_file_read: row count and column checksums equal the source")(
      one.contains(expected))
    ctx.check("csv_single_file: the one gzip file re-reads to the source rows")(
      Inputs.checksum(read(csv, "csv")) == expected)

    val encoded = ctx.step("codec_encode") {
      val sink = new CountingSink
      writeReference(new XlsxWriter(sink, 0))
      sink.count
    }
    ctx.check("codec_encode: produced a package")(encoded.exists(_ > 0))
    ctx.step("codec_write") {
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(codecFile), 1 << 16)
      writeReference(new XlsxWriter(out))
    }
    fileBytes("codec_write") = bytesUnder(codecFile)
    val back = ctx.step("codec_read") {
      val it = XlsxReader.forFile(codecFile).rows("data")
      var n = 0L
      var s = 0L
      try while (it.hasNext) { s += cellsSum(it.next().toArray); n += 1 } finally it.close()
      (n, s)
    }
    ctx.check("codec_read: rows and cells equal what was written")(
      back.contains((reference.length.toLong, referenceSum)))
  }

  private def writeReference(w: XlsxWriter): Unit = {
    w.addSheet("data")
    var i = 0
    while (i < reference.length) { w.writeRowTyped(reference(i)); i += 1 }
    w.close()
  }

  def finalChecks(): Unit = ()

  def readSteps: Seq[String] = Seq("xlsx_read", "xlsx_single_file_read", "codec_read")
  def writeSteps: Seq[String] =
    Seq("xlsx_write", "xlsx_single_file_write", "csv_single_file_write", "codec_encode", "codec_write")

  private def rowsPerS(step: String): Metric =
    Metric(scale.lineitemRows / (Stats.median(ctx.samples(step)) / 1e3), "rows/s")

  def results(): Seq[(String, Metric)] = Seq(
    "xlsx_write_rows_per_s" -> rowsPerS("xlsx_write"),
    "xlsx_single_file_write_rows_per_s" -> rowsPerS("xlsx_single_file_write"),
    "csv_single_file_write_rows_per_s" -> rowsPerS("csv_single_file_write"),
    "xlsx_read_rows_per_s" -> rowsPerS("xlsx_read"),
    "xlsx_single_file_read_rows_per_s" -> rowsPerS("xlsx_single_file_read"))

  def layers(): Seq[(String, Metric)] = {
    def codecMs(step: String) = Stats.median(ctx.tracer.traced(step).map(_._1.ms))
    val rows = reference.length.toDouble
    val codec = Seq(
      "codec.encode_rows_per_s" -> Metric(rows / (codecMs("codec_encode") / 1e3), "rows/s"),
      "codec.write_rows_per_s" -> Metric(rows / (codecMs("codec_write") / 1e3), "rows/s"),
      "codec.deflate_share" -> Metric(1 - codecMs("codec_encode") / codecMs("codec_write"), "ratio"),
      "codec.bytes_per_row" -> Metric(fileBytes.getOrElse("codec_write", 0L) / rows, "bytes"),
      "codec.read_rows_per_s" -> Metric(rows / (codecMs("codec_read") / 1e3), "rows/s"))
    codec ++ DsvSteps.flatMap(dsv2Layer)
  }

  private def dsv2Layer(step: String): Seq[(String, Metric)] = {
    val calls = ctx.tracer.traced(step)
    val rows = scale.lineitemRows.toDouble
    def per(f: ((Span, Seq[JobRec], Seq[StageRec])) => Double) = Stats.median(calls.map(f))
    val p = s"dsv2.$step"
    Seq(
      s"$p.tasks" -> Metric(per(_._3.map(_.tasks).sum.toDouble), "count"),
      s"$p.task_rows_per_s" -> Metric(per(c => Stats.safeDiv(rows, c._3.map(_.runMs).sum / 1e3)), "rows/s"),
      s"$p.cpu_share" -> Metric(per(c => Stats.safeDiv(c._3.map(_.cpuNs).sum / 1e6, c._3.map(_.runMs).sum.toDouble)), "ratio"),
      s"$p.gc_share" -> Metric(per(c => Stats.safeDiv(c._3.map(_.gcMs).sum.toDouble, c._3.map(_.runMs).sum.toDouble)), "ratio"),
      s"$p.task_skew" -> Metric(per { c =>
        val main = c._3.filter(_.taskMs.nonEmpty).maxByOption(_.runMs)
        main.map(s => Stats.safeDiv(s.taskMs.max.toDouble, Stats.median(s.taskMs.toSeq.map(_.toDouble)))).getOrElse(0.0)
      }, "ratio"),
      s"$p.scheduler_delay_ms" -> Metric(per(_._3.filter(s => s.completed > 0 && s.taskMs.nonEmpty)
        .map(s => (s.completed - s.submitted - s.taskMs.max).toDouble).sum), "ms"),
      s"$p.bytes_per_row" -> Metric(fileBytes.getOrElse(step, 0L) / rows, "bytes"),
      s"$p.commit_tail_ms" -> Metric(per { c =>
        val last = c._3.map(_.lastTaskEnd).maxOption.getOrElse(0L)
        if (last == 0L) 0.0 else ctx.tracer.epochMs(c._1.t1) - last
      }, "ms"))
  }

  def inputs: Seq[(String, Long, Long)] = Seq(
    ("lineitem", scale.lineitemRows, scale.lineitemRows * RowBytes),
    ("reference_30col", reference.length.toLong, reference.length.toLong * 30 * 8))

  def close(): Unit = if (li != null) li.unpersist(blocking = true)
}

object TabularIo {
  val DsvSteps: Seq[String] = Seq("xlsx_write", "xlsx_single_file_write",
    "csv_single_file_write", "xlsx_read", "xlsx_single_file_read")

  /** In-memory width of one lineitem row: 8 numeric columns of 8 bytes,
    * two one-letter strings, one timestamp. */
  val RowBytes = 8L * 8 + 2 + 8

  /** Order-free sum over a row's cells, used to compare a read-back
    * workbook with the rows written. */
  def cellsSum(cells: Array[CellValue]): Long = {
    var s = 0L
    var i = 0
    while (i < cells.length) {
      s = s * 31 + (cells(i) match {
        // a whole float may come back as an int cell: compare numbers as doubles
        case CellValue.IntVal(v) => java.lang.Double.hashCode(v.toDouble).toLong
        case CellValue.FloatVal(v) => java.lang.Double.hashCode(v).toLong
        case CellValue.Str(v) => v.hashCode.toLong
        case CellValue.BoolVal(v) => if (v) 1L else 2L
        case other => other.hashCode.toLong
      })
      i += 1
    }
    s
  }

  def bytesUnder(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else {
      val s = Files.walk(path)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_: Path)).sum()
      finally s.close()
    }
  }
}

/** An OutputStream that only counts: the codec's XML encoding measured
  * without storage. */
final class CountingSink extends java.io.OutputStream {
  var count = 0L
  override def write(b: Int): Unit = count += 1
  override def write(b: Array[Byte], off: Int, len: Int): Unit = count += len
}
