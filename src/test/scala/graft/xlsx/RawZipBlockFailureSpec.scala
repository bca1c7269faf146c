package graft.xlsx

import java.io.{ByteArrayOutputStream, IOException, OutputStream}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** A block entry whose output fails: the caller gets the output's own
  * `IOException`, every `Deflater` the entry made is ended, and the shared
  * deflate pool is left free for the next writer. */
class RawZipBlockFailureSpec extends AnyFunSuite {

  /** Accepts `limit` bytes, then throws `failure` on every write. */
  private final class FailingOut(limit: Long, failure: IOException) extends OutputStream {
    private var n = 0L
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      if (n + len > limit) throw failure
      n += len
    }
  }

  /** Rows of the reference's 30-column shape: a few MB of sheet XML, many
    * blocks, well past 300 KB deflated. */
  private def writeWorkbook(out: OutputStream, rows: Int): Unit = {
    val w = new XlsxWriter(out)
    w.addSheet("S")
    (0 until rows).foreach { r =>
      w.writeRowTyped((0 until 30).map { c =>
        (c % 3: @unchecked) match {
          case 0 => CellValue.IntVal(r.toLong * c)
          case 1 => CellValue.FloatVal(r * 1.5 + c)
          case 2 => CellValue.Str(s"cell-$r-$c")
        }
      })
    }
    w.close()
  }

  test("an output failing after 300 KB raises its IOException, ends every Deflater and frees the pool") {
    val before = RawZipWriter.liveDeflaters.get
    val failure = new IOException("output refused past 300 KB")
    val thrown = intercept[IOException] {
      Await.result(Future(writeWorkbook(new FailingOut(300 * 1024, failure), 20000)), 10.seconds)
    }
    assert(thrown eq failure)
    assert(RawZipWriter.liveDeflaters.get === before)

    val bos = new ByteArrayOutputStream()
    Await.result(Future(writeWorkbook(bos, 20000)), 60.seconds)
    assert(bos.size > 600 * 1024)
    assert(XlsxReader.forBytes(bos.toByteArray).rows("S").size === 20000)
    assert(RawZipWriter.liveDeflaters.get === before)
  }
}
