package graft.sources.csv

import java.io.{InputStream, OutputStream}

import com.github.luben.zstd.{ZstdInputStreamNoFinalizer, ZstdOutputStreamNoFinalizer}
import org.apache.hadoop.io.compress._

/** Pure-JVM zstd codec for Hadoop text formats, giving `.csv.zst` parity
  * with the reference (ref: src/csv_writer.rs:85-108 — Zstd level 3) —
  * Hadoop's own ZStandardCodec needs native libhadoop, which container
  * images rarely carry; Spark already ships zstd-jni for parquet/shuffle,
  * so this wrapper closes the gap with zero new dependencies.
  *
  * Register once per session:
  * {{{
  *   ZstdCodec.register(spark)
  *   df.write.option("compression", ZstdCodec.Name).csv(path)  // .csv.zst
  * }}}
  */
final class ZstdCodec extends CompressionCodec {

  override def getDefaultExtension: String = ".zst"

  override def createOutputStream(out: OutputStream): CompressionOutputStream =
    new CompressionOutputStream(new ZstdOutputStreamNoFinalizer(out, 3)) {
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def write(b: Int): Unit = out.write(b)
      override def finish(): Unit = {
        // Hadoop contract: finish() completes the compressed output
        // without closing the stream. A plain flush issues ZSTD_e_flush
        // and never writes the frame epilogue -> truncated .zst for
        // callers that close the raw stream themselves.
        val z = out.asInstanceOf[ZstdOutputStreamNoFinalizer]
        z.setCloseFrameOnFlush(true)
        z.flush()
        z.setCloseFrameOnFlush(false)
      }
      override def resetState(): Unit = ()
      override def close(): Unit = out.close()
    }

  override def createOutputStream(out: OutputStream, c: Compressor): CompressionOutputStream =
    createOutputStream(out)

  override def createInputStream(in: InputStream): CompressionInputStream =
    new CompressionInputStream(new ZstdInputStreamNoFinalizer(in)) {
      override def read(b: Array[Byte], off: Int, len: Int): Int = in.read(b, off, len)
      override def read(): Int = in.read()
      override def resetState(): Unit = ()
      override def getPos: Long = 0L
    }

  override def createInputStream(in: InputStream, d: Decompressor): CompressionInputStream =
    createInputStream(in)

  // zstd-jni streams don't use the Hadoop (de)compressor pooling protocol.
  override def createCompressor(): Compressor = null
  override def getCompressorType: Class[_ <: Compressor] = null
  override def createDecompressor(): Decompressor = null
  override def getDecompressorType: Class[_ <: Decompressor] = null
}

object ZstdCodec {
  /** Fully-qualified name — pass as the CSV/text `compression` option. */
  val Name: String = classOf[ZstdCodec].getName

  /** Make `.zst` files readable by extension (spark.read.csv on a
    * directory of .zst) by appending this codec to the session's Hadoop
    * codec list. Write-side needs only the `compression` option. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    CodecList.register(spark, Name)
}
