package graft.xlsx

import java.io.{File, FileInputStream, FileOutputStream}

/** Rewrite-based row append to an existing workbook file — working parity
  * for the reference's `AppendableExcelWriter`, whose `save()` ships as
  * `InvalidState("...not yet fully implemented...")`
  * (ref: src/append/mod.rs:47-253, unimplemented save :190-207).
  *
  * A .xlsx is one ZIP with compressed XML entries, so true in-place append
  * is not possible; this reads every sheet, rewrites the workbook with the
  * new rows added to the selected sheet, then atomically replaces the
  * file. O(file) per call by necessity — batch appends accordingly (the
  * DSv2 sink's `mode("append")` adds part files instead, O(new rows), and
  * is the right tool for datasets).
  *
  * LIMITS (same CellValue-level model as the reference's buffered design):
  *  - content outside the cell model does not survive the rewrite:
  *    non-date cell styles, sheet protection, column widths, merged
  *    cells, charts, images, defined names. Intended for workbooks this
  *    library wrote, not for annotating Excel-authored files.
  *  - formula cells whose cached value is present read back as the value
  *    (the reference's reader does the same) and are rewritten static.
  *  - single-writer: concurrent appends to one file are last-writer-wins,
  *    like any read-modify-replace.
  */
object XlsxAppend {

  def appendRows(
      path: String,
      rows: Seq[Seq[CellValue]],
      sheet: Option[String] = None): Unit = {
    val src = new File(path)
    require(src.isFile, s"no such workbook: $path")
    val reader = XlsxReader.forFile(path)
    val sheetNames = reader.sheetNames
    require(sheetNames.nonEmpty, s"workbook has no sheets: $path")
    val target = sheet.getOrElse(sheetNames.head)
    require(sheetNames.contains(target),
      s"sheet '$target' not found; sheets: ${sheetNames.mkString(", ")}")

    // Re-apply date styles from the value kind — writing DateTime cells
    // with the default style would strip the style the read-side date
    // heuristic depends on, degrading them to plain ints on re-read.
    def styledRow(r: Seq[CellValue]): Seq[(CellValue, Int)] = r.map {
      case d @ CellValue.DateTime(s) =>
        (d, if (s - math.floor(s) > 0.0001) CellStyle.DateTimestamp else CellStyle.DateDefault)
      case v => (v, CellStyle.Default)
    }

    // Carry the rollover-continuation stamp through the rewrite (the new
    // package always gets a stamp, so losing it here would silently break
    // the default read's chain reassembly). An unstamped graft file gets
    // sheet 0's chain from the reader's one chain rule, and from then on
    // the file is stamped explicitly.
    val stamped: Set[Int] = reader.rolloverContinuations.getOrElse {
      val chain = reader.firstSheetChain.tail.toSet
      sheetNames.indices.filter(i => chain.contains(sheetNames(i))).toSet
    }

    val tmp = File.createTempFile("xlsx_append", ".xlsx", src.getParentFile)
    val w = new XlsxWriter(new FileOutputStream(tmp))
    try {
      for ((name, idx) <- sheetNames.zipWithIndex) {
        w.addSheet(name, continuation = stamped.contains(idx))
        val it = reader.rows(name)
        try it.foreach(r => w.writeRowStyled(styledRow(r))) finally it.close()
        if (name == target) rows.foreach(r => w.writeRowStyled(styledRow(r)))
      }
      w.close()
    } catch {
      case e: Throwable =>
        // close the writer (and its stream) BEFORE deleting: an open
        // handle makes the delete fail on Windows and leaks the fd
        try w.close() catch { case _: Throwable => }
        tmp.delete()
        throw e
    }
    // atomic replace where the filesystem allows it; don't leak the tmp
    // if the destination is locked by another process
    try java.nio.file.Files.move(tmp.toPath, src.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case e: Throwable => tmp.delete(); throw e }
  }
}
