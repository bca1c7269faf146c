package graft.xlsx

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One ZIP reader and one ZIP writer: [[RawZipWriter]] writes every ZIP the
  * library produces, and [[ZipRandom]] reads every workbook; and one thread
  * pool in the codec and the data sources, the writer's shared deflate pool.
  * This scans the main sources so that none of these rules erodes silently. */
class ZipAccessGuardSpec extends AnyFunSuite {

  private val main = Paths.get("src", "main", "scala")

  /** (file, line number, line) of every main-source line matching `pattern`
    * under `dir`. */
  private def hits(dir: Path, pattern: String): Seq[String] = {
    val re = pattern.r
    val files = Files.walk(dir)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    } finally files.close()
  }

  test("the main sources are where this spec looks") {
    assert(Files.isDirectory(main.resolve("graft/xlsx")), main.toAbsolutePath.toString)
  }

  test("no ZipOutputStream anywhere in the main sources") {
    assert(hits(main, "ZipOutputStream") === Nil)
  }

  test("no ZipFile or ZipInputStream in the xlsx codec or the xlsx data source") {
    val found = Seq("graft/xlsx", "graft/sources/xlsx")
      .flatMap(d => hits(main.resolve(d), """\b(ZipFile|ZipInputStream)\b"""))
    assert(found === Nil)
  }

  test("no thread or pool in the xlsx codec or the data sources but RawZipWriter's deflate pool") {
    val rawZip = main.resolve("graft/xlsx/RawZip.scala").toString + ":"
    val found = Seq("graft/xlsx", "graft/sources")
      .flatMap(d => hits(main.resolve(d), """\b(Executors|ForkJoinPool)\b|\bnew Thread\b"""))
    assert(found.exists(_.startsWith(rawZip)), "the deflate pool moved out of RawZip.scala")
    assert(found.filterNot(_.startsWith(rawZip)) === Nil)
  }
}
