package graft.tools

import graft.xlsx._

/** Tiny CLI over the pure-JVM xlsx core (no Spark needed): the library's
  * standalone user surface, analogous to the reference's examples/.
  *
  * Usage:
  *   XlsxCli demo <out.xlsx>          write a typed multi-sheet demo file
  *   XlsxCli dump <in.xlsx> [sheet]   print sheets, dimensions and rows
  *   XlsxCli bench [rows] [cols]      single-writer (up to 4 deflate
  *                                    threads) write+read throughput at
  *                                    level 6 (default 1M x 30 — the
  *                                    reference's own benchmark config,
  *                                    ref: QUICKSTART.md:187-193)
  */
object XlsxCli {
  def main(args: Array[String]): Unit = args.toList match {
    case "bench" :: rest =>
      val rows = rest.headOption.map(_.toInt).getOrElse(1000000)
      val cols = rest.lift(1).map(_.toInt).getOrElse(30)
      val out = java.io.File.createTempFile("graft_bench", ".xlsx")
      import CellValue._
      val runtime = Runtime.getRuntime
      def usedMb: Long = (runtime.totalMemory - runtime.freeMemory) / 1048576
      System.gc(); val memBefore = usedMb
      val t0 = System.nanoTime()
      val w = new XlsxWriter(new java.io.FileOutputStream(out), 6)
      w.addSheet("bench")
      val row = new Array[CellValue](cols)
      var r = 0
      while (r < rows) {
        var c = 0
        while (c < cols) {
          row(c) = (c % 4: @unchecked) match {
            case 0 => IntVal(r.toLong * c)
            case 1 => FloatVal(r * 1.5 + c)
            case 2 => Str(s"cell-$r-$c")
            case 3 => BoolVal((r + c) % 2 == 0)
          }
          c += 1
        }
        w.writeRowTyped(row)
        r += 1
      }
      w.close()
      val writeSec = (System.nanoTime() - t0) / 1e9
      System.gc(); val memAfterWrite = usedMb
      val t1 = System.nanoTime()
      var readRows = 0L
      XlsxReader.forFile(out.getPath).rowsByIndex(0).foreach(_ => readRows += 1)
      val readSec = (System.nanoTime() - t1) / 1e9
      println(f"write: $rows rows x $cols cols in $writeSec%.2f s = ${rows / writeSec}%.0f rows/s")
      println(f"read:  $readRows rows in $readSec%.2f s = ${readRows / readSec}%.0f rows/s")
      println(f"file:  ${out.length() / 1048576.0}%.1f MB; heap retained after write ~${memAfterWrite - memBefore} MB")
      out.delete()
    case "demo" :: out :: Nil =>
      import CellValue._
      val w = new XlsxWriter(new java.io.FileOutputStream(out), 6)
      w.addSheet("Данные")
      w.writeHeaderBold(Seq("name", "qty", "price", "ok", "when"))
      w.writeRowStyled(Seq(
        (Str("ab<&>c"), 0), (IntVal(42), 0), (FloatVal(12.5), 0),
        (BoolVal(true), 0), (DateTime(44562.5), CellStyle.DateTimestamp)))
      w.writeRow(Seq("plain", "", "x", "", ""))
      w.addSheet("S2")
      w.protectSheet(ProtectionOptions(password = Some("pw"), sort = true))
      w.writeRowTyped(Seq(Formula("=A1+B1"), Error("#N/A")))
      w.close()
      println(s"wrote $out (${new java.io.File(out).length()} bytes)")
    case "dump" :: in :: rest =>
      val r = XlsxReader.forFile(in)
      println(s"sheets: ${r.sheetNames.mkString(", ")}")
      val sheets = rest.headOption.map(Seq(_)).getOrElse(r.sheetNames)
      sheets.foreach { s =>
        val (nr, nc) = r.dimensions(s)
        println(s"[$s] ${nr}x$nc")
        r.rows(s).zipWithIndex.take(20).foreach { case (row, i) =>
          println(s"  $i: " + row.map {
            case CellValue.DateTime(d) => s"DateTime($d=${ExcelDate.format(d).getOrElse("?")})"
            case v => v.toString
          }.mkString(" | "))
        }
      }
    case _ =>
      System.err.println("usage: XlsxCli demo <out.xlsx> | dump <in.xlsx> [sheet] | bench [rows] [cols]")
      sys.exit(2)
  }
}
