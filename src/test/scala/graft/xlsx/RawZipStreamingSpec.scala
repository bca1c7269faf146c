package graft.xlsx

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipFile, ZipInputStream}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[RawZipWriter]]'s streaming entries — the path every workbook and
  * `.csv.zip` entry is written through: deflated here, CRC-32 and sizes in
  * a data descriptor. Archives must read back through [[ZipRandom]] and two
  * independent APPNOTE readers, the JDK's `ZipFile` (central directory) and
  * `ZipInputStream` (local headers and descriptors, the `.csv.zip` read
  * path), and identical input must give identical bytes. */
class RawZipStreamingSpec extends AnyFunSuite {

  /** Deterministic sampler (fixed seed), as in [[PropertySpec]]. */
  private def forAll[A](g: Gen[A], n: Int)(body: A => Unit): Unit =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(8L)).get.foreach(body)

  private def u16(b: Array[Byte], p: Int): Int = (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], p: Int): Long = u16(b, p).toLong | (u16(b, p + 2).toLong << 16)

  private def workbook(rows: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = new XlsxWriter(bos)
    w.addSheet("A")
    w.writeHeaderBold(Seq("n", "s"))
    (0 until rows).foreach(i => w.writeRowTyped(Seq(CellValue.IntVal(i), CellValue.Str(s"row $i"))))
    w.addSheet("B", continuation = true)
    w.writeRow(Seq("x"))
    w.close()
    bos.toByteArray
  }

  test("the same rows give byte-identical workbooks, every header dated 1980-01-01") {
    val a = workbook(2000)
    val b = workbook(2000)
    assert(java.util.Arrays.equals(a, b), "two writes of the same rows differ")
    val entries = ZipRandom.entries(ZipRandom.SeekableInput.forBytes(a))
    assert(entries.size === 11) // two sheets + nine package parts
    entries.foreach { e =>
      val p = e.localHeaderOffset.toInt
      assert(u32(a, p) === 0x04034b50L, e.name)
      assert((u16(a, p + 10), u16(a, p + 12)) === ((0, 0x21)), s"local header of ${e.name}")
    }
    // walk the central directory (no archive comment: EOCD is the last 22 bytes)
    var p = u32(a, a.length - 22 + 16).toInt
    entries.indices.foreach { _ =>
      assert(u32(a, p) === 0x02014b50L)
      assert((u16(a, p + 12), u16(a, p + 14)) === ((0, 0x21)), s"central header at $p")
      p += 46 + u16(a, p + 28) + u16(a, p + 30) + u16(a, p + 32)
    }
    assert(p === a.length - 22)
  }

  /** One archive: entries of random bytes (some compressible, some not),
    * each written at a random level in random-sized chunks. */
  private final case class Archive(entries: Seq[(Array[Byte], Int, Seq[Int])])

  private val payload: Gen[Array[Byte]] = for {
    n <- Gen.oneOf(Gen.choose(0, 64), Gen.choose(0, 200 * 1024))
    alphabet <- Gen.oneOf(4, 256)
    seed <- Gen.long
  } yield {
    val r = new scala.util.Random(seed)
    Array.fill(n)(r.nextInt(alphabet).toByte)
  }

  private val archive: Gen[Archive] = Gen.choose(1, 4).flatMap { k =>
    Gen.listOfN(k, for {
      p <- payload
      level <- Gen.choose(0, 9)
      chunks <- Gen.listOfN(8, Gen.oneOf(Gen.choose(1, 16), Gen.choose(1, 100 * 1024)))
    } yield (p, level, chunks)).map(Archive(_))
  }

  private def write(a: Archive, sizeThreshold: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zw = new RawZipWriter(bos, sizeThreshold, 0xFFFF)
    a.entries.zipWithIndex.foreach { case ((bytes, level, chunks), i) =>
      val e = zw.openEntry(s"e$i.bin", level)
      var off = 0
      var c = 0
      while (off < bytes.length) { // cycle through the chunk sizes
        val n = math.min(chunks(c % chunks.size), bytes.length - off)
        e.write(bytes, off, n)
        off += n
        c += 1
      }
      e.close()
    }
    zw.finish(); zw.close()
    bos.toByteArray
  }

  private def viaZipRandom(zip: Array[Byte]): Map[String, Array[Byte]] = {
    val in = ZipRandom.SeekableInput.forBytes(zip)
    ZipRandom.entries(in).map { e =>
      val s = ZipRandom.openEntry(in, e)
      e.name -> (try s.readAllBytes() finally s.close())
    }.toMap
  }

  private def viaZipFile(zip: Array[Byte]): Map[String, Array[Byte]] = {
    val f = Files.createTempFile("rawzip", ".zip")
    try {
      val out = new FileOutputStream(f.toFile)
      try out.write(zip) finally out.close()
      val zf = new ZipFile(f.toFile)
      try {
        import scala.jdk.CollectionConverters._
        zf.entries().asScala.map(e => e.getName -> zf.getInputStream(e).readAllBytes()).toMap
      } finally zf.close()
    } finally Files.delete(f)
  }

  private def viaZipInputStream(zip: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(zip))
    try Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> zin.readAllBytes()).toMap
    finally zin.close()
  }

  private def assertSame(a: Archive, got: Map[String, Array[Byte]], reader: String): Unit = {
    assert(got.size === a.entries.size, reader)
    a.entries.zipWithIndex.foreach { case ((bytes, level, _), i) =>
      assert(java.util.Arrays.equals(got(s"e$i.bin"), bytes),
        s"$reader: e$i.bin (${bytes.length} bytes, level $level) differs")
    }
  }

  test("streamed entries at levels 0-9 read back through ZipRandom, ZipFile and ZipInputStream") {
    forAll(archive, 60) { a =>
      val zip = write(a, 0xFFFFFFFFL)
      assertSame(a, viaZipRandom(zip), "ZipRandom")
      assertSame(a, viaZipFile(zip), "ZipFile")
      assertSame(a, viaZipInputStream(zip), "ZipInputStream")
    }
  }

  test("streamed entries past lowered ZIP64 thresholds read back through ZipRandom and ZipFile") {
    forAll(archive, 40) { a =>
      val zip = write(a, 1024L)
      assertSame(a, viaZipRandom(zip), "ZipRandom")
      assertSame(a, viaZipFile(zip), "ZipFile")
      // each data descriptor follows its data, with 8-byte sizes from the threshold on
      ZipRandom.entries(ZipRandom.SeekableInput.forBytes(zip)).foreach { e =>
        val p = (e.localHeaderOffset + 30 + e.name.length + e.compressedSize).toInt
        assert(u32(zip, p) === 0x08074b50L && u32(zip, p + 4) === e.crc, e.name)
        val sizes =
          if (e.compressedSize >= 1024L || e.uncompressedSize >= 1024L)
            (u32(zip, p + 8) | (u32(zip, p + 12) << 32), u32(zip, p + 16) | (u32(zip, p + 20) << 32))
          else (u32(zip, p + 8), u32(zip, p + 12))
        assert(sizes === ((e.compressedSize, e.uncompressedSize)), e.name)
      }
    }
  }
}
