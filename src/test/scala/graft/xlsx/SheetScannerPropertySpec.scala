package graft.xlsx

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets

import scala.util.Try

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The byte-level [[SheetScanner]] against the StAX row iterator it
  * replaced ([[StaxRowOracle]]), on generated hostile sheet parts: entities
  * and character references, CDATA, comments and PIs that contain `<row` /
  * `<c`, rich-text runs with phonetic runs, formulas, self-closing cells
  * and rows, shuffled attributes with either quote, element prefixes,
  * sparse and lowercase refs, CRs, UTF-16 parts, and arbitrary
  * `[startRow, endRow)` cuts. Malformed or truncated parts must fail on
  * both sides. */
class SheetScannerPropertySpec extends AnyFunSuite {

  private val Sst = Vector("zero", "one", "two", "three")
  private val DateStyles = Set(1, 3, 14)

  private def cases[A](g: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach(i => body(g.apply(Gen.Parameters.default, Seed(i.toLong * 7919L)).get))

  private def shuffled[A](xs: Seq[A]): Gen[Seq[A]] =
    Gen.long.map(s => new scala.util.Random(s).shuffle(xs))

  private val textPiece: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(8)),
    Gen.oneOf("&amp;", "&lt;", "&gt;", "&quot;", "&apos;", "&#65;", "&#x4E2D;", "&#x1F600;",
      "&#13;", "&#10;", "&#9;", "&#0065;"),
    Gen.oneOf("<![CDATA[<row r=\"9\"><c r=\"A1\">]]>", "<![CDATA[a&b\r\nc]]>", "<![CDATA[]]>"),
    Gen.oneOf("<!-- <row><c r=\"Z9\"> -->", "<?pi <row ?>", "<?x <c r=\"A1\"/>?>"),
    Gen.oneOf("é", "中文", "😀", " ", "\t", "\r\n", "\r", "\n", ">", "'", "\""))

  private val text: Gen[String] = Gen.choose(0, 4).flatMap(Gen.listOfN(_, textPiece)).map(_.mkString)

  private val number: Gen[String] = Gen.oneOf(
    Gen.choose(-100000L, 100000L).map(_.toString),
    Gen.long.map(_.toString),
    Gen.choose(-1e6, 1e6).map(_.toString),
    Gen.choose(0, 3000000).map(_.toString),
    Gen.oneOf("9007199254740993", "1e5", "1.5E-3", " 12 ", "+7", "-0", "00042", "NaN",
      "Infinity", "12abc", "", "1.0", "45000.5", "60", "2958466", "&#49;2", "1<!--c-->2",
      "12345678901234567890", "-999999999999999999", "0.1<![CDATA[5]]>"))

  /** One `<c>` at column `col`. */
  private def cell(p: String, col: Int): Gen[String] = for {
    kind <- Gen.choose(0, 9)
    withRef <- Gen.frequency(5 -> true, 1 -> false)
    lower <- Gen.frequency(6 -> false, 1 -> true)
    style <- Gen.option(Gen.oneOf("0", "1", "3", "14", "99", "x", "-1"))
    q <- Gen.oneOf("\"", "'")
    eq <- Gen.oneOf("=", " = ")
    body <- kind match {
      case 0 => Gen.oneOf(number.map(n => s"<${p}v>$n</${p}v>"), Gen.const(s"<${p}v/>"),
        number.map(n => s"<${p}f>SUM(A1:A3)</${p}f><${p}v>$n</${p}v>"), Gen.const(""))
      case 1 => Gen.choose(-1, 5).map(i => s"<${p}v>$i</${p}v>")
      case 2 => for (a <- text; b <- text; c <- text; shape <- Gen.choose(0, 3)) yield shape match {
        case 0 => s"<${p}is><${p}t>$a</${p}t></${p}is>"
        case 1 => s"<${p}is><${p}r><${p}rPr><${p}b/></${p}rPr><${p}t xml:space=\"preserve\">$a</${p}t></${p}r>" +
          s"<${p}r><${p}t>$b</${p}t></${p}r><${p}rPh sb=\"0\" eb=\"1\"><${p}t>$c</${p}t></${p}rPh>" +
          s"<${p}phoneticPr fontId=\"1\"/></${p}is>"
        case 2 => s"<${p}is/>"
        case _ => s"<${p}is><${p}t/><${p}rPh><${p}t>$c</${p}t></${p}rPh><${p}t>$b</${p}t></${p}is>"
      }
      case 3 => for (f <- text; v <- text; withV <- Gen.oneOf(true, false))
        yield s"<${p}f>$f</${p}f>" + (if (withV) s"<${p}v>$v</${p}v>" else "")
      case 4 => Gen.oneOf("0", "1", "true", " 1").map(v => s"<${p}v>$v</${p}v>")
      case 5 => Gen.oneOf("#N/A", "#DIV/0!", "").map(v => s"<${p}v>$v</${p}v>")
      case 6 => Gen.oneOf(s"<${p}f t=\"shared\" si=\"0\"/>", s"<${p}f>A1+1</${p}f>")
      case 7 => text.map(v => s"<${p}v>$v</${p}v>")
      case _ => Gen.const(null) // self-closing
    }
    order <- shuffled(Seq(
      (if (withRef) Some("r") else None)
        .map(_ -> ((if (lower) A1.colToLetter(col).toLowerCase else A1.colToLetter(col)) + "7")),
      (kind match {
        case 1 => Some("s"); case 2 => Some("inlineStr"); case 3 => Some("str"); case 4 => Some("b")
        case 5 => Some("e"); case 7 => Some("d"); case 0 => Some("n"); case _ => None
      }).map("t" -> _),
      style.map("s" -> _)).flatten)
  } yield {
    val attrs = order.map { case (k, v) => s" $k$eq$q$v$q" }.mkString
    if (body == null) s"<${p}c$attrs/>" else s"<${p}c$attrs>$body</${p}c>"
  }

  private def row(p: String, r: Int): Gen[String] = for {
    n <- Gen.choose(0, 6)
    gaps <- Gen.listOfN(n, Gen.frequency(4 -> 0, 1 -> 1, 1 -> 3))
    cols = gaps.scanLeft(-1)((c, g) => c + 1 + g).tail
    cells <- Gen.sequence[List[String], String](cols.map(cell(p, _)))
    attrs <- shuffled(Seq(s"""r="$r"""", """x14ac:dyDescent="0.25"""", """spans="1:4""""))
    selfClosing <- Gen.frequency(12 -> false, 1 -> true)
    between <- Gen.oneOf("", "\n  ", "<!-- <row r=\"99\"> -->", "<?gen <row v2?>")
  } yield
    if (selfClosing) s"<${p}row ${attrs.mkString(" ")}/>$between"
    else s"<${p}row ${attrs.mkString(" ")}>${cells.mkString}</${p}row>$between"

  /** A sheet part as XML text and the encoding to store it in. */
  private val sheet: Gen[(String, String)] = for {
    p <- Gen.oneOf("", "x:")
    n <- Gen.choose(0, 12)
    rows <- Gen.sequence[List[String], String]((1 to n).map(row(p, _)))
    decl <- Gen.oneOf(true, false)
    tail <- Gen.oneOf("", s"<${p}mergeCells count=\"1\"><${p}mergeCell ref=\"A1:B1\"/></${p}mergeCells>")
    enc <- Gen.frequency(6 -> "UTF-8", 1 -> "UTF-8-BOM", 1 -> "UTF-16", 1 -> "UTF-16LE")
  } yield {
    val declared = if (enc.startsWith("UTF-16")) "UTF-16" else "UTF-8"
    val xml = (if (decl || enc.startsWith("UTF-16")) s"""<?xml version="1.0" encoding="$declared" standalone="yes"?>\n""" else "") +
      s"""<!-- prolog <row> --><${p}worksheet xmlns="urn:main" xmlns:x="urn:main" xmlns:x14ac="urn:ac">""" +
      s"""<${p}dimension ref="A1"/><${p}sheetData>${rows.mkString}</${p}sheetData>$tail</${p}worksheet>\n<?after?>"""
    (xml, enc)
  }

  private def encode(xml: String, enc: String): Array[Byte] = enc match {
    case "UTF-8-BOM" => Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ xml.getBytes(StandardCharsets.UTF_8)
    case "UTF-16" => xml.getBytes(StandardCharsets.UTF_16) // big-endian with BOM
    case "UTF-16LE" => Array(0xFF, 0xFE).map(_.toByte) ++ xml.getBytes(StandardCharsets.UTF_16LE)
    case _ => xml.getBytes(StandardCharsets.UTF_8)
  }

  /** Rows rendered with toString (so NaN cells compare equal), or the failure. */
  private def read(open: => XlsxReader.RowIter): Either[Throwable, Vector[String]] =
    Try {
      val it = open
      try it.map(_.map(_.toString).mkString("|")).toVector finally it.close()
    }.toEither

  private def scanner(b: Array[Byte], start: Long = 0L, end: Long = Long.MaxValue, date1904: Boolean = false) =
    new SheetScanner(new ByteArrayInputStream(b), Sst, date1904, DateStyles, start, end)

  private def oracle(b: Array[Byte], start: Long = 0L, end: Long = Long.MaxValue, date1904: Boolean = false) =
    StaxRowOracle.rows(new ByteArrayInputStream(b), Sst, date1904, DateStyles, start, end)

  test("scanner = StAX oracle on generated sheets, whole and cut at arbitrary row ranges") {
    val cuts = for {
      a <- Gen.choose(0L, 14L)
      b <- Gen.frequency(1 -> Gen.const(Long.MaxValue), 3 -> Gen.choose(a, 15L))
      d1904 <- Gen.frequency(4 -> false, 1 -> true)
    } yield (a, b, d1904)
    var nonEmpty = 0
    cases(Gen.zip(sheet, cuts), 600) { case ((xml, enc), (a, b, d1904)) =>
      val bytes = encode(xml, enc)
      val want = read(oracle(bytes, date1904 = d1904))
      assert(want.isRight, s"generator produced XML the oracle rejects: $want\n$xml")
      assert(read(scanner(bytes, date1904 = d1904)) === want, xml)
      assert(read(scanner(bytes, a, b, d1904)) === read(oracle(bytes, a, b, d1904)), s"[$a, $b) of\n$xml")
      val counter = new SheetScanner(new ByteArrayInputStream(bytes), Sst, false, DateStyles,
        sampleBytes = bytes.length + 1L)
      assert(counter.countRows() === want.toOption.get.size.toLong, xml)
      if (want.toOption.get.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 400, "the generator should mostly produce sheets with rows")
  }

  test("malformed or truncated parts fail on both sides") {
    val broken = for {
      xml <- sheet.map(_._1)
      kind <- Gen.choose(0, 9)
      cutAt <- Gen.choose(0, math.max(0, xml.indexOf("sheetData>") + 10))
      cutAt2 <- Gen.choose(0, xml.indexOf("</") + 2)
    } yield {
      val open = xml.indexOf("sheetData>") + "sheetData>".length
      val rootAt = xml.indexOf("worksheet xmlns") - (if (xml.contains("<x:worksheet")) 3 else 1)
      def insert(at: Int, s: String) = xml.substring(0, at) + s + xml.substring(at)
      kind match {
        case 0 => xml.substring(0, cutAt)                                // truncated in the prolog or header
        case 1 => xml.substring(0, math.max(open, xml.lastIndexOf("</") - 1 - cutAt % 7)) // truncated late
        case 2 => insert(open, "</row>")                                 // stray end tag
        case 3 => insert(open, "&nbsp;")                                 // undeclared entity
        case 4 => insert(open, "<c r=A1></c>")                           // unquoted attribute
        case 5 => insert(open, "<c r=\"A<1\"></c>")                      // '<' in an attribute value
        case 6 => xml + "<worksheet/>"                                   // second root
        case 7 => insert(rootAt, "junk")                                 // text before the root
        case 8 => insert(open, "<c><v>&#0;</v></c>")                     // invalid character reference
        case _ => xml.substring(0, cutAt2) + xml.substring(cutAt2).replaceFirst("</", "</q") // mismatched end
      }
    }
    cases(broken, 300) { xml =>
      val bytes = xml.getBytes(StandardCharsets.UTF_8)
      assert(read(oracle(bytes)).isLeft, s"oracle accepted:\n$xml")
      assert(read(scanner(bytes)).isLeft, s"scanner accepted:\n$xml")
    }
  }
}
