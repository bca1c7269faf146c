package graft.xlsx

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{Deflater, ZipFile, ZipInputStream}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[RawZipWriter]]'s block entry: a streaming entry opened outside a Spark
  * task at level ≥ 1 deflates 128 KiB blocks on the shared pool, each primed
  * with the previous block's last 32 KiB and ended with a sync flush. Payloads
  * around every block and dictionary boundary, written in random chunks at
  * levels 1-9, must read back through [[ZipRandom]], `ZipFile` and
  * `ZipInputStream`, and the bytes must not depend on scheduling. */
class RawZipBlockSpec extends AnyFunSuite {

  private val Block = 128 * 1024
  private val Dict = 32 * 1024

  private def forAll[A](g: Gen[A], n: Int)(body: A => Unit): Unit =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(9L)).get.foreach(body)

  /** Sheet-like text (compressible, with matches across block boundaries)
    * or random bytes (incompressible: deflate emits stored blocks). */
  private def bytes(n: Int, seed: Long, text: Boolean): Array[Byte] = {
    val r = new scala.util.Random(seed)
    if (!text) Array.fill(n)(r.nextInt(256).toByte)
    else {
      val sb = new java.lang.StringBuilder(n + 64)
      while (sb.length < n)
        sb.append("<c r=\"").append(('A' + r.nextInt(26)).toChar).append(r.nextInt(5000))
          .append("\" t=\"n\"><v>").append(r.nextInt(100000)).append("</v></c>")
      sb.toString.substring(0, n).getBytes("US-ASCII")
    }
  }

  private val boundarySizes: Seq[Int] =
    Seq(0, 1, Dict - 1, Dict, Dict + 1, Block - 1, Block, Block + 1) ++
      (2 to 5).flatMap(k => Seq(k * Block - 1, k * Block, k * Block + 1))

  /** One entry: payload, level and the chunk sizes its writes cycle through
    * (1-byte writes, small and large ones, single writes spanning blocks). */
  private final case class Spec(payload: Array[Byte], level: Int, chunks: Seq[Int]) {
    override def toString: String = s"${payload.length} bytes at level $level, chunks ${chunks.take(4)}"
  }

  private val chunk: Gen[Int] =
    Gen.frequency(1 -> Gen.const(1), 3 -> Gen.choose(1, 64), 3 -> Gen.choose(1, 8192),
      2 -> Gen.choose(Block, 3 * Block + 7))

  private def spec(size: Gen[Int]): Gen[Spec] = for {
    n <- size
    text <- Gen.frequency(4 -> true, 1 -> false)
    seed <- Gen.long
    level <- Gen.choose(1, 9)
    chunks <- Gen.listOfN(6, chunk)
  } yield Spec(bytes(n, seed, text), level, chunks)

  private val anySize: Gen[Int] =
    Gen.frequency(2 -> Gen.oneOf(boundarySizes), 1 -> Gen.choose(0, 1536 * 1024))

  private def writeEntry(zw: RawZipWriter, name: String, s: Spec): Unit = {
    val e = zw.openEntry(name, s.level)
    var off = 0
    var c = 0
    while (off < s.payload.length) {
      val n = math.min(s.chunks(c % s.chunks.size), s.payload.length - off)
      if (n == 1) e.write(s.payload(off).toInt) else e.write(s.payload, off, n)
      off += n
      c += 1
    }
    e.close()
  }

  private def write(entries: Seq[Spec], sizeThreshold: Long = 0xFFFFFFFFL): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zw = new RawZipWriter(bos, sizeThreshold, 0xFFFF)
    entries.zipWithIndex.foreach { case (s, i) => writeEntry(zw, s"e$i.bin", s) }
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
    val f = Files.createTempFile("rawzip-block", ".zip")
    try {
      val out = new FileOutputStream(f.toFile)
      try out.write(zip) finally out.close()
      val zf = new ZipFile(f.toFile)
      try zf.entries().asScala.map(e => e.getName -> zf.getInputStream(e).readAllBytes()).toMap
      finally zf.close()
    } finally Files.delete(f)
  }

  private def viaZipInputStream(zip: Array[Byte]): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(zip))
    try Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> zin.readAllBytes()).toMap
    finally zin.close()
  }

  private def assertSame(entries: Seq[Spec], got: Map[String, Array[Byte]], reader: String): Unit = {
    assert(got.size === entries.size, reader)
    entries.zipWithIndex.foreach { case (s, i) =>
      assert(java.util.Arrays.equals(got(s"e$i.bin"), s.payload), s"$reader: e$i.bin ($s) differs")
    }
  }

  /** The block format computed here independently: what the entry must
    * store for `payload` when the pool is in use. */
  private def blockDeflate(payload: Array[Byte], level: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var start = 0
    var last = false
    while (!last) {
      val len = math.min(Block, payload.length - start)
      last = len < Block
      val d = new Deflater(level, true)
      try {
        if (start > 0) d.setDictionary(payload, start - Dict, Dict)
        d.setInput(payload, start, len)
        if (last) {
          d.finish()
          while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        } else {
          var n = buf.length
          while (n == buf.length) { n = d.deflate(buf, 0, buf.length, Deflater.SYNC_FLUSH); out.write(buf, 0, n) }
        }
      } finally d.end()
      start += len
    }
    out.toByteArray
  }

  private def plainDeflate(payload: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level, true)
    try {
      d.setInput(payload)
      d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  private def stored(zip: Array[Byte]): Map[String, Array[Byte]] = {
    val in = ZipRandom.SeekableInput.forBytes(zip)
    ZipRandom.entries(in).map { e =>
      val s = ZipRandom.openRaw(in, e)
      e.name -> (try s.readAllBytes() finally s.close())
    }.toMap
  }

  test("every block and dictionary boundary size, at levels 1-9, reads back through all three readers") {
    val fixed = for {
      (n, i) <- boundarySizes.zipWithIndex
      level <- Seq(1 + i % 9, 9 - i % 9)
    } yield Spec(bytes(n, i.toLong, text = i % 4 != 3), level, Seq(1, 7, 4096, Block + 3, 64))
    fixed.grouped(4).foreach { group =>
      val zip = write(group)
      assertSame(group, viaZipRandom(zip), "ZipRandom")
      assertSame(group, viaZipFile(zip), "ZipFile")
      assertSame(group, viaZipInputStream(zip), "ZipInputStream")
    }
  }

  test("random payloads up to 1.5 MB, chunkings and levels read back through all three readers") {
    forAll(Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, spec(anySize))), 24) { entries =>
      val zip = write(entries)
      assertSame(entries, viaZipRandom(zip), "ZipRandom")
      assertSame(entries, viaZipFile(zip), "ZipFile")
      assertSame(entries, viaZipInputStream(zip), "ZipInputStream")
    }
  }

  test("block entries past lowered ZIP64 thresholds read back through ZipRandom and ZipFile") {
    forAll(Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, spec(anySize))), 12) { entries =>
      val zip = write(entries, sizeThreshold = 1024L)
      assertSame(entries, viaZipRandom(zip), "ZipRandom")
      assertSame(entries, viaZipFile(zip), "ZipFile")
    }
  }

  test("the stored bytes are the block format whenever the pool is in use") {
    forAll(spec(Gen.oneOf(boundarySizes)), 20) { s =>
      val expected =
        if (RawZipWriter.Threads > 1) blockDeflate(s.payload, s.level) else plainDeflate(s.payload, s.level)
      assert(java.util.Arrays.equals(stored(write(Seq(s)))("e0.bin"), expected), s.toString)
    }
  }

  test("the same input gives byte-identical archives 20 times while a second writer shares the pool") {
    val mine = Seq(Spec(bytes(9 * Block + 12345, 1L, text = true), 6, Seq(1000, 1, Block * 2)),
      Spec(bytes(3 * Block, 2L, text = false), 1, Seq(70000)))
    @volatile var done = false
    val other = Future {
      val theirs = Seq(Spec(bytes(6 * Block + 1, 3L, text = true), 9, Seq(333)))
      var n = 0
      while (!done) { write(theirs); n += 1 }
      n
    }
    val first = write(mine)
    try (1 until 20).foreach { i =>
      assert(java.util.Arrays.equals(write(mine), first), s"write $i differs from the first")
    } finally done = true
    assert(Await.result(other, 60.seconds) > 0)
    assertSame(mine, viaZipRandom(first), "ZipRandom")
  }
}
