package graft.xlsx

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards: rules about the main sources that no behaviour test
  * would notice eroding, checked by scanning the sources' lines.
  *  - One ZIP reader and one ZIP writer: [[RawZipWriter]] writes every ZIP
  *    the library produces, and [[ZipRandom]] reads every workbook.
  *  - One thread pool in the codec and the data sources, the writer's
  *    shared deflate pool.
  *  - No operator mutates session-global state: operator and streaming
  *    code never writes the session conf (an operator that needs other
  *    planning settings plans on a session of its own).
  *  - One tombstone rule: probes apply the ledger through
  *    `IndexMaintenance.dropTombstoned`, so no other operator reads it
  *    with `readDeletes`.
  *  - One timestamp rule: a timestamp's serial is its UTC wall clock
  *    (`ExcelDate.fromEpochMicros` / `toEpochMicros`), so no main source
  *    converts through the JVM's default zone with `Timestamp.valueOf` or
  *    `.toLocalDateTime`. */
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

  test("no session-conf write in the operators or the streaming pipelines") {
    val found = Seq("graft/operators", "graft/streaming")
      .flatMap(d => hits(main.resolve(d), """\.conf\.(set|unset)\("""))
    assert(found === Nil)
  }

  test("only IndexMaintenance reads the tombstone ledger as a frame in the operators") {
    val own = main.resolve("graft/operators/IndexMaintenance.scala").toString + ":"
    val found = hits(main.resolve("graft/operators"), """\breadDeletes\(""")
    assert(found.exists(_.startsWith(own)), "readDeletes moved out of IndexMaintenance.scala")
    assert(found.filterNot(_.startsWith(own)) === Nil)
  }

  test("no JVM-zone timestamp conversion anywhere in the main sources") {
    assert(hits(main.resolve("graft"), """\bTimestamp\.valueOf\b|\.toLocalDateTime\b""") === Nil)
  }
}
