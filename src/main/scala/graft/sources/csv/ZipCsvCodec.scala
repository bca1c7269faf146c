package graft.sources.csv

import java.io.{InputStream, OutputStream}
import java.util.zip.{ZipEntry, ZipInputStream}

import graft.xlsx.RawZipWriter
import org.apache.hadoop.io.compress._

/** `.csv.zip` container parity with the reference (ref:
  * src/csv_writer.rs:85-158): one CSV entry inside a ZIP archive, so the
  * output opens in Explorer/Finder/Excel directly. The reference puts
  * zstd-compressed data inside the ZIP (method 93), which almost no
  * desktop tool can open; we use standard DEFLATE, which every unzip
  * can — a documented deviation that strictly widens compatibility.
  *
  * The entry is named `data.csv`: a Hadoop codec sees only the byte
  * stream, never the output path, so the reference's name-derived entry
  * (`<stem>.csv`) is not reproducible here. It is written by the library's
  * one ZIP writer ([[graft.xlsx.RawZipWriter]]) at deflate level 6.
  *
  * Register once per session:
  * {{{
  *   ZipCsvCodec.register(spark)
  *   df.write.option("compression", ZipCsvCodec.Name).csv(path)  // .csv.zip
  * }}}
  */
final class ZipCsvCodec extends CompressionCodec {

  override def getDefaultExtension: String = ".zip"

  override def createOutputStream(out: OutputStream): CompressionOutputStream = {
    val zip = new RawZipWriter(out)
    val entry = zip.openEntry("data.csv", 6)
    new CompressionOutputStream(out) {
      private var done = false
      override def write(b: Array[Byte], off: Int, len: Int): Unit = entry.write(b, off, len)
      override def write(b: Int): Unit = entry.write(b)
      // finish() must seal the archive (entry + central directory) without
      // closing the underlying file stream — Hadoop closes that itself.
      override def finish(): Unit = if (!done) {
        entry.close()
        zip.finish()
        done = true
      }
      override def resetState(): Unit = ()
      override def close(): Unit = try finish() finally zip.close()
    }
  }

  override def createOutputStream(out: OutputStream, c: Compressor): CompressionOutputStream =
    createOutputStream(out)

  override def createInputStream(in: InputStream): CompressionInputStream = {
    val zin = new ZipInputStream(in)
    // Archive-tool metadata is never data (macOS __MACOSX/ + AppleDouble
    // "._" shadows, .DS_Store, Windows Thumbs.db).
    def isMetadata(name: String): Boolean = {
      val base = name.substring(name.lastIndexOf('/') + 1)
      name.startsWith("__MACOSX/") || base.startsWith("._") ||
        base == ".DS_Store" || base == "Thumbs.db"
    }
    def isCsv(name: String): Boolean = name.toLowerCase.endsWith(".csv")
    // After the first entry is accepted, chain only .csv siblings — a
    // README.txt packed next to the parts must not be parsed as rows.
    var csvMode = false
    var legacySingle = false // first entry wasn't .csv: read it alone
    def nextFileEntry(): ZipEntry = {
      if (legacySingle) return null
      var e = zin.getNextEntry
      while (e != null && (e.isDirectory || isMetadata(e.getName) ||
        (csvMode && !isCsv(e.getName)))) e = zin.getNextEntry
      e
    }
    val first = nextFileEntry()
    require(first != null, "empty ZIP archive: no data entry to read")
    if (isCsv(first.getName)) csvMode = true else legacySingle = true
    // The reference writes exactly one entry, but foreign-produced archives
    // may hold several CSV parts: chain-read them in archive order instead
    // of silently truncating to the first entry's rows. Caveat (documented):
    // with header=true Spark skips only the first line of the whole stream,
    // so subsequent entries' header lines surface as data rows — multi-entry
    // archives should be read with header=false.
    new CompressionInputStream(zin) {
      private var lastByte: Int = '\n'
      // On entry EOF: advance to the next entry; if the finished entry had
      // no trailing newline, emit one first so its last row can't merge
      // with the next entry's first row.
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (len == 0) return 0
        var n = zin.read(b, off, len)
        while (n < 0 && nextFileEntry() != null) {
          if (lastByte != '\n') { b(off) = '\n'; lastByte = '\n'; return 1 }
          n = zin.read(b, off, len)
        }
        if (n > 0) lastByte = b(off + n - 1) & 0xFF
        n
      }
      override def read(): Int = {
        val one = new Array[Byte](1)
        val n = read(one, 0, 1)
        if (n < 0) -1 else one(0) & 0xFF
      }
      override def resetState(): Unit = ()
      override def getPos: Long = 0L
    }
  }

  override def createInputStream(in: InputStream, d: Decompressor): CompressionInputStream =
    createInputStream(in)

  // The ZIP streams don't use the Hadoop (de)compressor pooling protocol.
  override def createCompressor(): Compressor = null
  override def getCompressorType: Class[_ <: Compressor] = null
  override def createDecompressor(): Decompressor = null
  override def getDecompressorType: Class[_ <: Decompressor] = null
}

object ZipCsvCodec {
  /** Fully-qualified name — pass as the CSV/text `compression` option. */
  val Name: String = classOf[ZipCsvCodec].getName

  /** Make `.zip` files readable by extension (spark.read.csv on a
    * directory of .zip) by appending this codec to the session's Hadoop
    * codec list. Write-side needs only the `compression` option. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    CodecList.register(spark, Name)
}
