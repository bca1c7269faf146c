package graft.xlsx

import java.io.{IOException, InputStream}
import java.util.zip.{CRC32, Inflater, InflaterInputStream, ZipException}

/** The one ZIP reader of the xlsx read path: random access through the
  * central directory, over any seekable byte source — a local file, a
  * Hadoop stream (s3a/gs/hdfs) or bytes in memory. Listing the entries is
  * one bounded tail read (EOCD + central directory; a second ranged read
  * only for a directory larger than the tail, or a ZIP64 archive), then
  * one ranged read per entry — the access pattern Parquet readers use for
  * footers. The central directory is the authority: an input without a
  * parseable one is refused, whatever its scheme.
  *
  * Layout parsed per the public PKWARE APPNOTE / ISO 21320: End-Of-Central-
  * Directory record (with the ZIP64 locator + record when present), central
  * file headers including the 0x0001 ZIP64 extended-information extra, and
  * local file headers (whose name/extra lengths may differ from the central
  * copy — the data offset always comes from the LOCAL header). Every entry
  * stream read to its end is checked against the directory's size and
  * CRC-32.
  *
  * The reference has no equivalent: its S3 reader downloads the entire
  * object to memory before opening it (ref: src/cloud/s3_reader.rs:131-199).
  */
object ZipRandom {

  /** One central-directory row. Sizes are the true (ZIP64-resolved) values. */
  final case class Entry(
      name: String,
      method: Int, // 0 = stored, 8 = deflate
      crc: Long, // CRC-32 of the uncompressed data (content fingerprint)
      compressedSize: Long,
      uncompressedSize: Long,
      localHeaderOffset: Long)

  /** Seekable byte source. `openAt` must return a fresh stream positioned at
    * `pos`; `readFully` is an independent positional read (no shared cursor,
    * so one SeekableInput may back many concurrent entry streams). */
  trait SeekableInput {
    def length: Long
    def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit
    def openAt(pos: Long): InputStream
  }

  object SeekableInput {
    /** A local file; every access opens its own `RandomAccessFile`. */
    def forFile(path: String): SeekableInput = new SeekableInput {
      override val length: Long = new java.io.File(path).length()
      override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
        val raf = new java.io.RandomAccessFile(path, "r")
        try { raf.seek(pos); raf.readFully(buf, off, len) } finally raf.close()
      }
      override def openAt(pos: Long): InputStream = {
        val raf = new java.io.RandomAccessFile(path, "r")
        raf.seek(pos)
        new InputStream {
          override def read(): Int = raf.read()
          override def read(b: Array[Byte], off: Int, len: Int): Int = raf.read(b, off, len)
          override def close(): Unit = raf.close()
        }
      }
    }

    /** Bytes in memory (a workbook built or fetched whole). */
    def forBytes(bytes: Array[Byte]): SeekableInput = new SeekableInput {
      override val length: Long = bytes.length.toLong
      override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
        if (pos < 0 || pos + len > length)
          throw new java.io.EOFException(s"read of $len bytes at $pos past the end ($length)")
        System.arraycopy(bytes, pos.toInt, buf, off, len)
      }
      override def openAt(pos: Long): InputStream =
        new java.io.ByteArrayInputStream(bytes, pos.toInt, (length - pos).toInt)
    }
  }

  private val EocdSig = 0x06054b50
  private val Zip64LocatorSig = 0x07064b50
  private val Zip64EocdSig = 0x06064b50
  private val CenSig = 0x02014b50
  private val LocSig = 0x04034b50
  /** EOCD fixed part is 22 bytes; the trailing comment can be ≤ 65535. */
  private val MaxEocdScan = 22 + 0xFFFF

  /** Parse the central directory. Throws [[IOException]] on a malformed or
    * non-ZIP input, a truncated upload included. */
  def entries(in: SeekableInput): Seq[Entry] = {
    val fileLen = in.length
    val scanLen = math.min(fileLen, MaxEocdScan.toLong).toInt
    val tail = new Array[Byte](scanLen)
    in.readFully(fileLen - scanLen, tail, 0, scanLen)
    // scan backwards for the EOCD signature; the comment may itself contain
    // the signature bytes, so a candidate only counts if its comment-length
    // field is self-consistent (record + comment reach exactly file end —
    // the same disambiguation the JDK applies)
    var eocd = -1
    var i = scanLen - 22
    while (i >= 0 && eocd < 0) {
      if (u32(tail, i) == EocdSig && i + 22 + u16(tail, i + 20) == scanLen) eocd = i
      i -= 1
    }
    if (eocd < 0) throw new IOException("not a ZIP archive: no end-of-central-directory record")
    var totalEntries: Long = u16(tail, eocd + 10)
    var cdOffset: Long = u32(tail, eocd + 16)
    val tailStart = fileLen - scanLen
    // ZIP64: any saturated field sends us to the ZIP64 EOCD via its locator,
    // which sits immediately before the EOCD record
    val zip64 = totalEntries == 0xFFFF || cdOffset == 0xFFFFFFFFL
    if (zip64) {
      val locPos = tailStart + eocd - 20
      val loc = new Array[Byte](20)
      in.readFully(locPos, loc, 0, 20)
      if (u32(loc, 0) != Zip64LocatorSig)
        throw new IOException("ZIP64 fields saturated but no ZIP64 locator present")
      val z64Pos = u64(loc, 8)
      val z64 = new Array[Byte](56)
      in.readFully(z64Pos, z64, 0, 56)
      if (u32(z64, 0) != Zip64EocdSig) throw new IOException("bad ZIP64 EOCD signature")
      totalEntries = u64(z64, 32)
      cdOffset = u64(z64, 48)
    }
    // the central directory ends where the (ZIP64) EOCD chain begins, and is
    // small (46 + name bytes per entry): it is parsed from the tail already
    // read when it lies inside it, else read whole in one ranged read
    val cdEnd = tailStart + eocd
    if (cdOffset < 0 || cdOffset > cdEnd)
      throw new IOException(s"central directory offset $cdOffset lies outside the archive")
    val cdLen = (cdEnd - cdOffset).toInt
    val (cd, cdStart) =
      if (!zip64 && cdOffset >= tailStart) (tail, (cdOffset - tailStart).toInt)
      else {
        val b = new Array[Byte](cdLen)
        in.readFully(cdOffset, b, 0, cdLen)
        (b, 0)
      }
    val cdLimit = cdStart + cdLen
    val out = Seq.newBuilder[Entry]
    var p = cdStart
    var n = 0L
    while (n < totalEntries && p + 46 <= cdLimit && u32(cd, p) == CenSig) {
      val method = u16(cd, p + 10)
      val crc = u32(cd, p + 16)
      var csize: Long = u32(cd, p + 20)
      var usize: Long = u32(cd, p + 24)
      val nameLen = u16(cd, p + 28)
      val extraLen = u16(cd, p + 30)
      val commentLen = u16(cd, p + 32)
      var lho: Long = u32(cd, p + 42)
      val name = new String(cd, p + 46, nameLen, java.nio.charset.StandardCharsets.UTF_8)
      // ZIP64 extended-information extra (id 0x0001): fields appear in fixed
      // order but ONLY for the saturated central-header fields
      var ep = p + 46 + nameLen
      val eEnd = ep + extraLen
      while (ep + 4 <= eEnd) {
        val id = u16(cd, ep); val sz = u16(cd, ep + 2)
        if (id == 0x0001) {
          var fp = ep + 4
          if (usize == 0xFFFFFFFFL && fp + 8 <= ep + 4 + sz) { usize = u64(cd, fp); fp += 8 }
          if (csize == 0xFFFFFFFFL && fp + 8 <= ep + 4 + sz) { csize = u64(cd, fp); fp += 8 }
          if (lho == 0xFFFFFFFFL && fp + 8 <= ep + 4 + sz) { lho = u64(cd, fp); fp += 8 }
        }
        ep += 4 + sz
      }
      out += Entry(name, method, crc, csize, usize, lho)
      p += 46 + nameLen + extraLen + commentLen
      n += 1
    }
    if (n < totalEntries)
      throw new IOException(s"central directory lists $totalEntries entries but only $n parse")
    out.result()
  }

  /** Open one entry as a decompressed stream: its stored bytes
    * ([[openRaw]]), inflated if deflated. Reaching the end of the stream
    * checks the inflated size and CRC-32 against the directory, as the JDK's
    * streaming ZIP reader does, so a flipped byte or a short entry fails the
    * read instead of yielding altered data. */
  def openEntry(in: SeekableInput, e: Entry): InputStream = {
    val data = e.method match {
      case 0 => openRaw(in, e)
      case 8 =>
        // nowrap Inflaters need one extra dummy byte after the compressed
        // data (Inflater javadoc; the JDK's random-access ZIP reader injects
        // buf[0]=0 in fill() for the same reason) or InflaterInputStream can throw
        // "Unexpected end of ZLIB input stream" on valid entries
        new InflaterInputStream(openBounded(in, e, padByte = true), new Inflater(true), 64 * 1024) {
        // release the Inflater's native buffers deterministically
        override def close(): Unit = try super.close() finally inf.end()
      }
      case m => throw new IOException(s"unsupported ZIP method $m for entry ${e.name}")
    }
    new CheckedStream(data, e)
  }

  /** The entry's stored bytes as written — compressed for method 8 —
    * bounded to `compressedSize`, for copying into another archive. */
  private[graft] def openRaw(in: SeekableInput, e: Entry): InputStream =
    openBounded(in, e, padByte = false)

  /** One stream per entry open: it starts at the local header, which is
    * read and skipped on the same stream (local name/extra lengths are
    * authoritative here — they may differ from the central copy). */
  private def openBounded(in: SeekableInput, e: Entry, padByte: Boolean): InputStream = {
    val s = in.openAt(e.localHeaderOffset)
    try {
      val lh = s.readNBytes(30)
      if (lh.length < 30 || u32(lh, 0) != LocSig)
        throw new IOException(s"bad local header for ZIP entry ${e.name}")
      s.skipNBytes(u16(lh, 26).toLong + u16(lh, 28))
      new BoundedStream(s, e.compressedSize, padByte)
    } catch { case t: Throwable => s.close(); throw t }
  }

  /** Counts and CRC-32s the bytes read; at end of stream both must match
    * the entry's directory record. `skip` goes through `read` (the
    * `InputStream` default), so skipped bytes are checked too. */
  private final class CheckedStream(in: InputStream, e: Entry) extends InputStream {
    private val crc = new CRC32
    private var size = 0L
    private def verify(): Unit =
      if (size != e.uncompressedSize)
        throw new ZipException(s"ZIP entry ${e.name}: read $size bytes, " +
          s"the central directory says ${e.uncompressedSize}")
      else if (crc.getValue != e.crc)
        throw new ZipException(f"invalid entry CRC for ZIP entry ${e.name}: " +
          f"0x${crc.getValue}%08x, the central directory says 0x${e.crc}%08x")
    override def read(): Int = {
      val b = in.read()
      if (b >= 0) { crc.update(b); size += 1 } else verify()
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len)
      if (n > 0) { crc.update(b, off, n); size += n } else if (n < 0) verify()
      n
    }
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }

  /** Reads at most `limit` bytes from `in`, closing it with this stream.
    * With `padByte`, yields a single extra 0x00 after the limit (required by
    * nowrap [[Inflater]]s — see [[openEntry]]). */
  private final class BoundedStream(in: InputStream, limit: Long, padByte: Boolean)
      extends InputStream {
    private var remaining = limit
    private var padded = false
    private def pad(): Int =
      if (padByte && !padded) { padded = true; 0 } else -1
    override def read(): Int =
      if (remaining <= 0) pad()
      else { val b = in.read(); if (b >= 0) remaining -= 1 else remaining = 0; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (remaining <= 0) {
        val p = pad()
        if (p < 0) return -1
        b(off) = 0
        return 1
      }
      val n = in.read(b, off, math.min(len.toLong, remaining).toInt)
      if (n > 0) remaining -= n else remaining = 0
      n
    }
    override def close(): Unit = in.close()
  }

  private def u16(b: Array[Byte], p: Int): Int =
    (b(p) & 0xFF) | ((b(p + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], p: Int): Long =
    (u16(b, p).toLong | (u16(b, p + 2).toLong << 16)) & 0xFFFFFFFFL
  private def u64(b: Array[Byte], p: Int): Long =
    u32(b, p) | (u32(b, p + 4) << 32)
}
