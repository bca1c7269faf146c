package graft.xlsx

import java.io.{InterruptedIOException, OutputStream}
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{CRC32, Deflater}

/** The library's one ZIP writer, per the public PKWARE APPNOTE / ISO 21320
  * — the same structures [[ZipRandom]] parses on the read side: local
  * headers, central directory, EOCD, with the ZIP64 record/locator and
  * 0x0001 extras emitted whenever a size/offset/count saturates its
  * 32/16-bit field. Timestamps are pinned to the DOS epoch (1980-01-01)
  * so identical data produces identical bytes — reruns of a deterministic
  * pipeline yield checksummable artifacts.
  *
  * Two ways to add an entry:
  *  - [[openEntry]] streams one: the bytes written to it are deflated here
  *    (method 8, raw), and the CRC-32 and both sizes follow the data in a
  *    data descriptor (flag bit 3). Every workbook entry and every
  *    `.csv.zip` entry is written this way.
  *  - [[addRawEntry]] + [[writePayload]] copy an entry whose payload is
  *    ALREADY compressed — the driver-side half of the parallel
  *    single-workbook write: partition tasks deflate their own worksheet
  *    XML independently (ZIP entries are independent deflate streams), and
  *    the commit concatenates the raw bytes here without recompressing,
  *    then writes the central directory.
  *
  * A streaming entry opened outside a Spark task at level ≥ 1 deflates in
  * blocks on a shared pool of min(4, cores) daemon threads — pigz's method
  * (https://zlib.net/pigz/). The caller's thread computes the CRC-32 in
  * order and fills 128 KiB input blocks; each full block is deflated by
  * its own `Deflater`, primed with the previous block's last 32 KiB as its
  * dictionary and ended with a sync flush, so the blocks concatenate into
  * one ordinary deflate stream. The last, partial block is deflated with
  * `finish()` on the caller's thread: an entry under 128 KiB never touches
  * the pool. Blocks reach `out` in order, on the caller's thread, and at
  * most 2 × threads are in flight (the caller waits when the window is
  * full); blocks are reused, so an open entry holds about 2.5 MB (2 ×
  * threads + 2 blocks of input and output) whatever its size. The bytes
  * depend only on the input and the level, never on scheduling. Inside a
  * Spark task (whose sibling tasks already hold the other cores), at
  * level 0 (no compression work) or on one core, the entry is one
  * sequential `Deflater` stream.
  *
  * The reference writes each workbook through one sequential `ZipWriter`
  * stream (ref: src/fast_writer/zero_temp_workbook.rs:77-130).
  *
  * The ZIP64 switch-over points are injectable (`zip64SizeThreshold`,
  * `zip64CountThreshold`) so tests can drive the >4 GiB / >65 535-entry
  * branch without multi-GiB fixtures; the SENTINEL values written into
  * saturated format fields stay 0xFFFFFFFF / 0xFFFF regardless — that is
  * what tells any APPNOTE-conforming reader (incl. [[ZipRandom]]) to
  * consult the 0x0001 extra / ZIP64 EOCD. Production uses the defaults,
  * i.e. the real field-capacity limits.
  */
final class RawZipWriter(out: OutputStream,
    zip64SizeThreshold: Long = 0xFFFFFFFFL,
    zip64CountThreshold: Int = 0xFFFF) {
  import RawZipWriter._

  private val dir = scala.collection.mutable.ArrayBuffer.empty[Cen]
  private var pos = 0L
  private var pendingPayload = 0L // bytes the caller still owes for the open raw entry
  private var streaming = false // a streaming entry is open
  private var finished = false
  private val buf = new Array[Byte](64 * 1024) // deflate output of streaming entries

  private val Max32 = 0xFFFFFFFFL
  private val Max16 = 0xFFFF

  /** Open an entry whose payload the caller will stream via [[writePayload]]
    * — exactly `csize` bytes of raw-deflate data (method 8) or stored data
    * (method 0), with the sizes and CRC known up front: the stitch copies
    * entries of finished files. */
  def addRawEntry(name: String, method: Int, crc: Long, csize: Long, usize: Long): Unit = {
    val offset = pos
    val nameB = localHeader(name, flags = 0, method, crc, csize, usize)
    dir += Cen(nameB, flags = 0, method, crc, csize, usize, offset)
    pendingPayload = csize
  }

  /** Stream part of the open entry's payload (raw bytes, already in the
    * entry's declared method encoding). */
  def writePayload(b: Array[Byte], off: Int, len: Int): Unit = {
    require(len <= pendingPayload, s"payload overrun: $len > $pendingPayload remaining")
    raw(b, off, len)
    pendingPayload -= len
  }

  /** Add a small entry deflated now (package parts — workbook.xml, styles,
    * props — are generated whole). */
  def addDeflated(name: String, content: Array[Byte], level: Int): Unit = {
    val e = openEntry(name, level)
    e.write(content, 0, content.length)
    e.close()
  }

  /** Open a streaming entry deflated at `level`. Closing the returned stream
    * ends the deflate stream and writes the data descriptor — with 8-byte
    * sizes once either size reaches the ZIP64 threshold, the JDK's
    * streaming writer's rule — but leaves the archive open for the next
    * entry. Outside a Spark task at level ≥ 1 the entry deflates in blocks
    * on the shared pool (see the class header). */
  private[graft] def openEntry(name: String, level: Int): OutputStream = {
    require(level >= 0 && level <= 9, "compression level 0-9")
    val offset = pos
    val nameB = localHeader(name, flags = 8, method = 8, crc = 0L, csize = 0L, usize = 0L)
    streaming = true
    if (level >= 1 && Threads > 1 && !inSparkTask) new BlockEntryStream(nameB, offset, level)
    else new EntryStream(nameB, offset, newDeflater(level))
  }

  /** One sequential `Deflater` stream. */
  private final class EntryStream(nameB: Array[Byte], offset: Long, deflater: Deflater)
      extends OutputStream {
    private val crc = new CRC32
    private val dataStart = pos
    private var closed = false
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      require(!closed, "ZIP entry already closed")
      crc.update(b, off, len)
      deflater.setInput(b, off, len)
      while (!deflater.needsInput()) drain()
    }
    private def drain(): Unit = raw(buf, 0, deflater.deflate(buf))
    override def close(): Unit = if (!closed) {
      closed = true
      val usize = try {
        deflater.finish()
        while (!deflater.finished()) drain()
        deflater.getBytesRead
      } finally endDeflater(deflater)
      endEntry(nameB, offset, crc.getValue, pos - dataStart, usize)
    }
  }

  /** The block-parallel entry (see the class header). A failure — `out`
    * throwing, or the caller's thread interrupted — waits for this entry's
    * blocks still in flight before it propagates, so none is left holding
    * the pool or a `Deflater`; the entry is then closed and the archive
    * unfinishable. */
  private final class BlockEntryStream(nameB: Array[Byte], offset: Long, level: Int)
      extends OutputStream {
    private val crc = new CRC32
    private val dataStart = pos
    private var usize = 0L
    private var block = new Block
    private var fill = 0
    private var prev: Block = null // the last full block: the next one's dictionary
    private var written: Block = null // the last block written: free once its successor is
    private val spare = new java.util.ArrayDeque[Block]() // blocks free for reuse
    private val inFlight = new java.util.ArrayDeque[Future[Block]]()
    private var closed = false
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      require(!closed, "ZIP entry already closed")
      crc.update(b, off, len)
      usize += len
      var o = off
      val end = off + len
      while (o < end) {
        val k = math.min(end - o, BlockSize - fill)
        System.arraycopy(b, o, block.data, fill, k)
        fill += k
        o += k
        if (fill == BlockSize) submit()
      }
    }
    private def submit(): Unit = orAbandon {
      val (full, dict) = (block, prev)
      while (inFlight.size >= MaxInFlight) writeHead()
      val task: Callable[Block] = () => deflateBlock(level, dict, full, BlockSize, last = false)
      inFlight.add(pool.submit(task))
      while (!inFlight.isEmpty && inFlight.peek.isDone) writeHead()
      prev = full
      block = if (spare.isEmpty) new Block else spare.pop()
      fill = 0
    }
    private def writeHead(): Unit = {
      val b = try inFlight.peek.get() catch {
        case e: ExecutionException => throw e.getCause
        case _: InterruptedException =>
          Thread.currentThread.interrupt()
          throw new InterruptedIOException("interrupted while deflating a ZIP entry")
      }
      inFlight.poll()
      raw(b.out, 0, b.outLen)
      // the block written before b was b's dictionary: now nothing reads it
      if (written != null) spare.push(written)
      written = b
    }
    private def orAbandon(body: => Unit): Unit =
      try body catch { case t: Throwable => abandon(); throw t }
    private def abandon(): Unit = {
      closed = true
      var interrupted = false
      while (!inFlight.isEmpty) {
        try { inFlight.peek.get(); inFlight.poll() } catch {
          case _: InterruptedException => interrupted = true // keep waiting
          case _: ExecutionException => inFlight.poll()
        }
      }
      if (interrupted) Thread.currentThread.interrupt()
    }
    override def close(): Unit = if (!closed) {
      orAbandon {
        deflateBlock(level, prev, block, fill, last = true)
        while (!inFlight.isEmpty) writeHead()
        raw(block.out, 0, block.outLen)
      }
      closed = true
      endEntry(nameB, offset, crc.getValue, pos - dataStart, usize)
    }
  }

  /** Close a streaming entry: data descriptor, then its directory record. */
  private def endEntry(nameB: Array[Byte], offset: Long, crc: Long, csize: Long, usize: Long): Unit = {
    w32(0x08074b50L) // data descriptor
    w32(crc)
    if (isZip64(csize, usize)) { w64(csize); w64(usize) } else { w32(csize); w32(usize) }
    dir += Cen(nameB, flags = 8, method = 8, crc, csize, usize, offset)
    streaming = false
  }

  /** Write a local header; returns the name's UTF-8 bytes. A streaming
    * entry (flag bit 3) writes zero CRC and sizes: they follow the data. */
  private def localHeader(name: String, flags: Int, method: Int,
      crc: Long, csize: Long, usize: Long): Array[Byte] = {
    require(!finished, "ZIP already finished")
    require(pendingPayload == 0, s"previous entry short by $pendingPayload payload bytes")
    require(!streaming, "previous streaming entry not closed")
    val nameB = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val zip64 = isZip64(csize, usize)
    w32(0x04034b50L)
    w16(if (zip64) 45 else 20) // version needed
    w16(flags)
    w16(method)
    w16(0); w16(0x21) // DOS time/date pinned to 1980-01-01
    w32(crc)
    w32(if (zip64) Max32 else csize)
    w32(if (zip64) Max32 else usize)
    w16(nameB.length)
    w16(if (zip64) 20 else 0) // extra length
    raw(nameB, 0, nameB.length)
    if (zip64) { // 0x0001 extra: in the LOCAL header both sizes, usize first
      w16(0x0001); w16(16); w64(usize); w64(csize)
    }
    nameB
  }

  private def isZip64(csize: Long, usize: Long): Boolean =
    csize >= zip64SizeThreshold || usize >= zip64SizeThreshold

  /** Central directory + EOCD (+ ZIP64 chain when any field saturates). */
  def finish(): Unit = {
    require(!finished, "ZIP already finished")
    require(pendingPayload == 0, s"open entry short by $pendingPayload payload bytes")
    require(!streaming, "streaming entry not closed")
    val cdStart = pos
    dir.foreach { e =>
      val needU = e.usize >= zip64SizeThreshold
      val needC = e.csize >= zip64SizeThreshold
      val needO = e.offset >= zip64SizeThreshold
      val extraLen = { val n = Seq(needU, needC, needO).count(identity); if (n > 0) 4 + 8 * n else 0 }
      w32(0x02014b50L)
      w16(if (extraLen > 0) 45 else 20) // version made by
      w16(if (extraLen > 0) 45 else 20) // version needed
      w16(e.flags)
      w16(e.method)
      w16(0); w16(0x21)
      w32(e.crc)
      w32(if (needC) Max32 else e.csize)
      w32(if (needU) Max32 else e.usize)
      w16(e.name.length)
      w16(extraLen)
      w16(0) // comment
      w16(0) // disk start
      w16(0) // internal attrs
      w32(0) // external attrs
      w32(if (needO) Max32 else e.offset)
      raw(e.name, 0, e.name.length)
      if (extraLen > 0) { // ZIP64 extra: only saturated fields, fixed order
        w16(0x0001); w16(extraLen - 4)
        if (needU) w64(e.usize)
        if (needC) w64(e.csize)
        if (needO) w64(e.offset)
      }
    }
    val cdSize = pos - cdStart
    val zip64 = dir.length > zip64CountThreshold ||
      cdStart >= zip64SizeThreshold || cdSize >= zip64SizeThreshold
    if (zip64) {
      val z64Pos = pos
      w32(0x06064b50L) // ZIP64 EOCD record
      w64(44) // size of remainder
      w16(45); w16(45)
      w32(0); w32(0) // disk numbers
      w64(dir.length.toLong); w64(dir.length.toLong)
      w64(cdSize); w64(cdStart)
      w32(0x07064b50L) // ZIP64 EOCD locator
      w32(0)
      w64(z64Pos)
      w32(1)
    }
    w32(0x06054b50L) // EOCD
    w16(0); w16(0)
    w16(if (dir.length > zip64CountThreshold) Max16 else dir.length)
    w16(if (dir.length > zip64CountThreshold) Max16 else dir.length)
    w32(if (cdSize >= zip64SizeThreshold) Max32 else cdSize)
    w32(if (cdStart >= zip64SizeThreshold) Max32 else cdStart)
    w16(0) // comment length
    out.flush()
    finished = true
  }

  def close(): Unit = out.close()

  private def raw(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len); pos += len
  }
  private def w16(v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >>> 8) & 0xFF); pos += 2
  }
  private def w32(v: Long): Unit = {
    out.write((v & 0xFF).toInt); out.write(((v >>> 8) & 0xFF).toInt)
    out.write(((v >>> 16) & 0xFF).toInt); out.write(((v >>> 24) & 0xFF).toInt)
    pos += 4
  }
  private def w64(v: Long): Unit = { w32(v & Max32); w32(v >>> 32) }
}

object RawZipWriter {
  private final case class Cen(
      name: Array[Byte], flags: Int, method: Int, crc: Long,
      csize: Long, usize: Long, offset: Long)

  private val BlockSize = 128 * 1024
  private val DictSize = 32 * 1024 // deflate's whole window

  /** Deflate threads: more than 4 would wait on the one encoding thread,
    * whose work is about a third of the deflate work at level 6. */
  private[xlsx] val Threads: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  private val MaxInFlight = 2 * Threads

  private lazy val pool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newFixedThreadPool(Threads, { r =>
      val t = new Thread(r, s"graft-deflate-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** `Deflater`s created and not yet ended, by every entry of every writer. */
  private[xlsx] val liveDeflaters = new AtomicInteger

  private def newDeflater(level: Int): Deflater = {
    val d = new Deflater(level, true)
    liveDeflaters.incrementAndGet()
    d
  }

  private def endDeflater(d: Deflater): Unit = {
    d.end()
    liveDeflaters.decrementAndGet()
  }

  /** The codec needs no Spark: without it on the classpath there is no task. */
  private def inSparkTask: Boolean =
    try org.apache.spark.TaskContext.get() != null
    catch { case _: NoClassDefFoundError => false }

  /** One input block and its deflated bytes. An entry reuses a block once
    * it is written and the block after it, which it primed, is written too. */
  private final class Block {
    val data = new Array[Byte](BlockSize)
    // zlib's deflateBound plus a sync flush's 5 bytes: one deflate call fits
    var out = new Array[Byte](BlockSize + (BlockSize >>> 12) + (BlockSize >>> 14) + 32)
    var outLen = 0
  }

  /** Deflate `block.data(0 until len)` into `block.out` as one piece of a raw
    * deflate stream, primed with `dict`'s last 32 KiB when there is a
    * previous block: a middle piece ends with a sync flush (byte-aligned,
    * not final), the `last` one finishes the stream. */
  private def deflateBlock(level: Int, dict: Block, block: Block, len: Int, last: Boolean): Block = {
    val d = newDeflater(level)
    try {
      if (dict != null) d.setDictionary(dict.data, BlockSize - DictSize, DictSize)
      d.setInput(block.data, 0, len)
      if (last) d.finish()
      var n = 0
      var done = false
      while (!done) {
        if (n == block.out.length) block.out = java.util.Arrays.copyOf(block.out, 2 * block.out.length)
        n += d.deflate(block.out, n, block.out.length - n,
          if (last) Deflater.NO_FLUSH else Deflater.SYNC_FLUSH)
        done = if (last) d.finished() else n < block.out.length
      }
      block.outLen = n
      block
    } finally endDeflater(d)
  }
}
