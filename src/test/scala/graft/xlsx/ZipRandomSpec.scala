package graft.xlsx

import java.io.FileOutputStream
import java.nio.file.{Files, Paths}
import java.util.zip.{CRC32, ZipEntry, ZipException, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Central-directory random access vs. the JDK's ZipFile as ground truth,
  * over both DEFLATE and STORED entries, and the size/CRC-32 check at the
  * end of every entry stream. */
class ZipRandomSpec extends AnyFunSuite {

  private def readAll(in: java.io.InputStream): Array[Byte] =
    try in.readAllBytes() finally in.close()

  private def writeWorkbook(path: String, rows: Int): Unit = {
    val out = new FileOutputStream(path)
    val w = new XlsxWriter(out)
    w.addSheet("S")
    (0 until rows).foreach(i => w.writeRow(Seq(s"r$i", i.toString)))
    w.close()
  }

  test("entries() matches ZipFile central directory; openEntry streams identical bytes") {
    val f = Files.createTempFile("ziprand", ".xlsx").toString
    writeWorkbook(f, 500)
    val seek = ZipRandom.SeekableInput.forFile(f)
    val got = ZipRandom.entries(seek).map(e => e.name -> e).toMap
    val zf = new ZipFile(f)
    try {
      val it = zf.entries()
      var n = 0
      while (it.hasMoreElements) {
        val e = it.nextElement()
        n += 1
        val m = got.getOrElse(e.getName, fail(s"entry ${e.getName} missing from ZipRandom"))
        assert(m.uncompressedSize === e.getSize, e.getName)
        assert(m.compressedSize === e.getCompressedSize, e.getName)
        assert(m.crc === e.getCrc, e.getName)
        val expect = readAll(zf.getInputStream(e))
        val actual = readAll(ZipRandom.openEntry(seek, m))
        assert(java.util.Arrays.equals(actual, expect), s"bytes differ for ${e.getName}")
      }
      assert(got.size === n)
    } finally zf.close()
  }

  test("STORED (uncompressed) entries and archive comments are handled") {
    val f = Files.createTempFile("ziprand-stored", ".zip").toString
    val zos = new ZipOutputStream(new FileOutputStream(f))
    val payload = ("stored payload " * 100).getBytes("UTF-8")
    val e = new ZipEntry("plain.txt")
    e.setMethod(ZipOutputStream.STORED)
    e.setSize(payload.length)
    e.setCompressedSize(payload.length)
    val crc = new CRC32(); crc.update(payload); e.setCrc(crc.getValue)
    zos.putNextEntry(e); zos.write(payload); zos.closeEntry()
    val d = new ZipEntry("deflated.txt")
    zos.putNextEntry(d); zos.write(payload); zos.closeEntry()
    // a comment shifts the EOCD away from the file tail — the backward scan
    // must still find the REAL record: the embedded decoy signature sits in
    // scan range but fails the comment-length self-consistency check
    zos.setComment("decoy EOCD sig PK\u0005\u0006 followed by enough trailing text that the backward scan reaches it before the real record")
    zos.close()
    val seek = ZipRandom.SeekableInput.forFile(f)
    val got = ZipRandom.entries(seek).map(x => x.name -> x).toMap
    assert(got.keySet === Set("plain.txt", "deflated.txt"))
    assert(got("plain.txt").method === 0)
    assert(got("deflated.txt").method === 8)
    Seq("plain.txt", "deflated.txt").foreach { name =>
      assert(java.util.Arrays.equals(readAll(ZipRandom.openEntry(seek, got(name))), payload), name)
    }
  }

  test("non-ZIP input fails with a clear error") {
    val f = Files.createTempFile("notzip", ".bin")
    Files.write(f, Array.fill[Byte](4096)(0x41))
    val ex = intercept[java.io.IOException] {
      ZipRandom.entries(ZipRandom.SeekableInput.forFile(f.toString))
    }
    assert(ex.getMessage.contains("central-directory"))
  }

  test("a damaged central directory is refused, not read in part") {
    val f = Files.createTempFile("ziprand-cd", ".xlsx").toString
    writeWorkbook(f, 10)
    val good = Files.readAllBytes(Paths.get(f))
    val eocd = good.length - 22 // no archive comment
    val cdOffset = java.nio.ByteBuffer.wrap(good, eocd + 16, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    def refused(damage: Array[Byte] => Unit): String = {
      val bytes = good.clone()
      damage(bytes)
      intercept[java.io.IOException](ZipRandom.entries(ZipRandom.SeekableInput.forBytes(bytes))).getMessage
    }
    // the first central header's signature broken: no entry parses
    assert(refused(b => b(cdOffset) = 0).contains("only 0 parse"))
    // the directory offset pointing past the end-of-central-directory record
    assert(refused(b => b(eocd + 19) = 0x7f).contains("outside the archive"))
  }

  /** `src` rewritten with every entry STORED (uncompressed), as some ZIP
    * tools write workbooks. */
  private def storedCopy(src: String, dst: String): Unit = {
    val zf = new ZipFile(src)
    val zos = new ZipOutputStream(new FileOutputStream(dst))
    try zf.entries().asScala.foreach { e =>
      val bytes = readAll(zf.getInputStream(e))
      val s = new ZipEntry(e.getName)
      s.setMethod(ZipEntry.STORED)
      s.setSize(bytes.length)
      s.setCompressedSize(bytes.length)
      val crc = new CRC32; crc.update(bytes); s.setCrc(crc.getValue)
      zos.putNextEntry(s); zos.write(bytes); zos.closeEntry()
    } finally { zos.close(); zf.close() }
  }

  test("a flipped byte inside a STORED sheet entry fails the read with a CRC error") {
    val good = Files.createTempFile("ziprand-good", ".xlsx").toString
    writeWorkbook(good, 50)
    val f = Files.createTempFile("ziprand-flipped", ".xlsx").toString
    storedCopy(good, f)
    val bytes = Files.readAllBytes(Paths.get(f))
    // sheets are written first, so the first "r42" is the sheet's inline
    // string; r42 -> r52 keeps the XML well formed and the row count whole
    val at = new String(bytes, "ISO-8859-1").indexOf("r42")
    assert(at > 0)
    bytes(at + 1) = '5'
    Files.write(Paths.get(f), bytes)
    val ex = intercept[ZipException](XlsxReader.forFile(f).rows("S").toVector)
    assert(ex.getMessage.contains("CRC"), ex.getMessage)
    // the single-byte read() path checks too
    val in = ZipRandom.SeekableInput.forFile(f)
    val sheet = ZipRandom.entries(in).find(_.name == "xl/worksheets/sheet1.xml").get
    assert(sheet.method === 0)
    val s = ZipRandom.openEntry(in, sheet)
    val ex2 = intercept[ZipException] { try while (s.read() >= 0) () finally s.close() }
    assert(ex2.getMessage.contains("CRC"), ex2.getMessage)
    // the untouched copy reads every row
    assert(XlsxReader.forFile(good).rows("S").size === 50)
  }

  test("a clean entry reads the same bytes through read() and read(buf)") {
    val deflated = Files.createTempFile("ziprand-bytes", ".xlsx").toString
    writeWorkbook(deflated, 300)
    val stored = Files.createTempFile("ziprand-bytes-stored", ".xlsx").toString
    storedCopy(deflated, stored)
    Seq(deflated, stored).foreach { f =>
      val in = ZipRandom.SeekableInput.forFile(f)
      ZipRandom.entries(in).foreach { e =>
        val bulk = readAll(ZipRandom.openEntry(in, e))
        // one byte at a time crosses the inflater's pad byte differently
        val s = ZipRandom.openEntry(in, e)
        val single = new java.io.ByteArrayOutputStream
        try { var b = s.read(); while (b >= 0) { single.write(b); b = s.read() } } finally s.close()
        assert(bulk.length.toLong === e.uncompressedSize, e.name)
        assert(java.util.Arrays.equals(single.toByteArray, bulk), s"${e.name} in $f")
      }
    }
  }

  test("each entry open is one openAt and no positional read") {
    val f = Files.createTempFile("ziprand-opens", ".xlsx").toString
    writeWorkbook(f, 200)
    val file = ZipRandom.SeekableInput.forFile(f)
    var opens = 0
    var reads = 0
    val counting = new ZipRandom.SeekableInput {
      override def length: Long = file.length
      override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
        reads += 1; file.readFully(pos, buf, off, len)
      }
      override def openAt(pos: Long): java.io.InputStream = { opens += 1; file.openAt(pos) }
    }
    val es = ZipRandom.entries(counting)
    opens = 0; reads = 0
    es.foreach { e =>
      val expect = readAll(ZipRandom.openEntry(file, e))
      assert(java.util.Arrays.equals(readAll(ZipRandom.openEntry(counting, e)), expect), e.name)
    }
    assert((opens, reads) === ((es.size, 0)))
  }

  /** `file` with every positional read counted. */
  private final class CountingInput(file: ZipRandom.SeekableInput) extends ZipRandom.SeekableInput {
    var reads = 0
    override def length: Long = file.length
    override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
      reads += 1; file.readFully(pos, buf, off, len)
    }
    override def openAt(pos: Long): java.io.InputStream = file.openAt(pos)
  }

  test("a workbook's central directory is parsed from the one tail read") {
    val f = Files.createTempFile("ziprand-tail", ".xlsx").toString
    writeWorkbook(f, 500)
    val counting = new CountingInput(ZipRandom.SeekableInput.forFile(f))
    val names = ZipRandom.entries(counting).map(_.name)
    assert(counting.reads === 1)
    val zf = new ZipFile(f)
    try assert(names === zf.entries().asScala.map(_.getName).toSeq) finally zf.close()
  }

  test("a central directory that starts before the tail is read whole and lists every entry") {
    val bos = new java.io.ByteArrayOutputStream
    val zw = new RawZipWriter(bos)
    val names = (0 until 2000).map(i => f"dir/entry-$i%06d-" + "x" * 23) // 40-byte names
    names.foreach(n => zw.addDeflated(n, n.getBytes("UTF-8"), 6))
    zw.finish()
    val zip = bos.toByteArray
    val cdOffset = java.nio.ByteBuffer.wrap(zip, zip.length - 22 + 16, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    assert(cdOffset < zip.length - (22 + 0xFFFF), "the directory must outgrow the tail")
    val counting = new CountingInput(ZipRandom.SeekableInput.forBytes(zip))
    val es = ZipRandom.entries(counting)
    assert(counting.reads === 2)
    assert(es.map(_.name) === names)
    val e = es.last
    assert(new String(readAll(ZipRandom.openEntry(counting, e)), "UTF-8") === e.name)
  }
}
