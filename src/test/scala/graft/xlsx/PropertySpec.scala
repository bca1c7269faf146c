package graft.xlsx

import java.io.ByteArrayOutputStream
import java.time.LocalDate

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties replacing the reference's hand-picked cases
  * (SURVEY §5.2): roundtrip laws for the date-serial codec, A1 addressing,
  * XML escaping, and the writer→reader path over arbitrary values.
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sampler (scalatestplus bridge isn't in the offline
    * dependency set — sample the Gen directly, fixed seed). */
  private def forAll[A](g: Gen[A], n: Int = 200)(body: A => Unit): Unit =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).get.foreach(body)

  private def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 200)(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb), n) { case (a, b) => body(a, b) }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  test("date serial: encode∘decode = id on 1..2958465 (except the serial-60 hole)") {
    forAll(Gen.choose(1L, 2958465L)) { serial =>
      whenever(serial != 60) { // 60 = the nonexistent 1900-02-29
        val d = ExcelDate.toDate(serial.toDouble).get
        assert(ExcelDate.fromDate(d) === serial)
      }
    }
  }

  test("date serial: decode∘encode = id for all dates 1900-01-01..9999-12-31") {
    val gen = Gen.choose(LocalDate.of(1900, 1, 1).toEpochDay, LocalDate.of(9999, 12, 31).toEpochDay)
    forAll(gen) { epochDay =>
      val d = LocalDate.ofEpochDay(epochDay)
      val serial = ExcelDate.fromDate(d)
      assert(ExcelDate.toDate(serial.toDouble) === Some(d))
    }
  }

  test("col letters: parse∘render = id") {
    forAll(Gen.choose(0, 500000)) { n =>
      assert(A1.parseColumnIndex(A1.colToLetter(n)) === n)
    }
  }

  test("cell ref: row and column recoverable") {
    forAll2(Gen.choose(0, 1048575), Gen.choose(0, 16383)) { (r, c) =>
      val ref = A1.cellRef(r, c)
      assert(A1.parseColumnIndex(ref) === c)
      assert(A1.parseRowIndex(ref) === r)
    }
  }

  private val cleanString: Gen[String] =
    Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('<', '>', '&', '"', '\'', ' ', '\t', '\n', 'д', '中', 'é')
    )).map(_.mkString)

  test("xml: decode∘escape = id for strings without dropped control chars") {
    forAll(cleanString) { s =>
      assert(Xml.decode(Xml.escape(s)) === s)
    }
  }

  test("password hash: 4 uppercase hex digits for any input") {
    forAll(Gen.asciiPrintableStr) { s =>
      val h = PasswordHash.hash(s)
      assert(h.length === 4 && h.forall(c => c.isDigit || ('A' to 'F').contains(c)))
    }
  }

  test("writer→reader: arbitrary typed rows survive the OOXML roundtrip") {
    import CellValue._
    val cellGen: Gen[CellValue] = Gen.oneOf(
      Gen.const(Empty),
      cleanString.map(s => if (s.isEmpty) Empty else Str(s)),
      Gen.choose(Long.MinValue / 2, Long.MaxValue / 2).map(IntVal(_)),
      Gen.choose(-1e12, 1e12).map(FloatVal(_)),
      Gen.oneOf(true, false).map(BoolVal(_))
    )
    forAll(Gen.listOfN(5, Gen.listOfN(4, cellGen))) { rows =>
      val bos = new ByteArrayOutputStream()
      val w = new XlsxWriter(bos, 1)
      rows.foreach(r => w.writeRowTyped(r))
      w.close()
      val back = XlsxReader.forBytes(bos.toByteArray).rowsByIndex(0).toVector
      assert(back.size === rows.size)
      rows.zip(back).foreach { case (expected, actual) =>
        // trailing Empty cells are not materialized in the XML; compare
        // up to the written prefix
        val trimmed = expected.reverse.dropWhile(_ == Empty).reverse
        assert(actual.size >= trimmed.size)
        trimmed.zip(actual).foreach {
          case (FloatVal(f), got) =>
            // integral doubles come back as ints (dynamic cell model)
            if (f == math.rint(f) && math.abs(f) < 1e15) assert(got === IntVal(f.toLong))
            else assert(got === FloatVal(f))
          case (exp, got) => assert(got === exp)
        }
        actual.drop(trimmed.size).foreach(c => assert(c === Empty))
      }
    }
  }

  test("row-range slicing: arbitrary cut points + hostile cell text partition the sheet exactly") {
    // strings engineered to look like row markers (XML-escaped on write,
    // so they are text, not markup) — the law must hold anyway
    val hostile = Gen.oneOf("<row>", "</row>", "<row r=\"9\">", "plain",
      "a<row b", "]]>", "<!--", "-->", "x" * 50)
    val nRows = 257 // crosses no chunk boundary; cuts do the work
    forAll(Gen.listOfN(3, Gen.choose(0L, nRows + 20L)), n = 40) { cutsRaw =>
      val bos = new ByteArrayOutputStream()
      val w = new XlsxWriter(bos, 1)
      val texts = Gen.listOfN(nRows, hostile)
        .apply(Gen.Parameters.default, Seed(cutsRaw.hashCode.toLong)).get
      texts.zipWithIndex.foreach { case (t, i) =>
        w.writeRowTyped(Seq(CellValue.IntVal(i), CellValue.Str(t))) }
      w.close()
      val r = XlsxReader.forBytes(bos.toByteArray)
      val sheet = r.sheetNames.head
      val all = r.rows(sheet).toVector
      assert(all.size === nRows)
      val cuts = (cutsRaw.sorted :+ Long.MaxValue).distinct
      val slices = (0L +: cuts).zip(cuts)
      val stitched = slices.flatMap { case (a, b) => r.rows(sheet, a, b).toVector }
      assert(stitched === all, s"cuts $cuts broke the partition law")
    }
  }
}
