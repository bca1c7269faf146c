package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.csv.{CsvSingleFile, ZipCsvCodec, ZstdCodec}

/** Parallel single-file CSV write: partitions encode/compress their own
  * parts through Spark's built-in writer, the driver byte-concatenates
  * them into one file at commit (multi-member gzip / multi-frame zstd /
  * multi-stream bzip2 / plain text — all valid by the container format).
  * Read-back goes through Spark's normal CSV reader on the ONE file, plus
  * an independent JDK GZIPInputStream decode for the gzip container. */
class CsvSingleFileSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("csv-singlefile-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(): String = tempDir("csf")

  private def sample(n: Int): DataFrame = {
    val sp = spark; import sp.implicits._
    (1 to n).map(i => (i.toLong, s"name_$i", i * 1.5)).toDF("id", "name", "score")
  }

  test("plain: one file, header once, all rows, partition order") {
    val p = tmp() + "/out.csv"
    CsvSingleFile.write(sample(1000).repartition(7), p, Map("header" -> "true"))
    assert(Files.isRegularFile(Paths.get(p)), "exactly one regular file expected")
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(Paths.get(p))).asScala
    assert(lines.head == "id,name,score")
    assert(lines.count(_ == "id,name,score") == 1, "header must appear exactly once")
    assert(lines.size == 1001)
    val back = spark.read.option("header", "true")
      .schema("id BIGINT, name STRING, score DOUBLE").csv(p)
    assert(back.count() == 1000)
    assert(back.agg(sum("id")).head.getLong(0) == 1000L * 1001 / 2)
  }

  test("gzip: concatenated members decode via Spark AND the JDK") {
    val p = tmp() + "/out.csv.gz"
    CsvSingleFile.write(sample(500).repartition(5), p,
      Map("header" -> "true", "compression" -> "gzip"))
    val back = spark.read.option("header", "true")
      .schema("id BIGINT, name STRING, score DOUBLE").csv(p)
    assert(back.count() == 500)
    assert(back.agg(sum("id")).head.getLong(0) == 500L * 501 / 2)
    // independent decode: java.util.zip handles multi-member gzip streams
    val in = new java.util.zip.GZIPInputStream(
      Files.newInputStream(Paths.get(p)))
    val text = new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    assert(lines.length == 501)
    assert(lines.head == "id,name,score")
  }

  test("zstd: concatenated frames decode through the registered codec") {
    val p = tmp() + "/out.csv.zst"
    CsvSingleFile.write(sample(400).repartition(3), p,
      Map("header" -> "true", "compression" -> "zstd"))
    ZstdCodec.register(spark)
    val back = spark.read.option("header", "true")
      .schema("id BIGINT, name STRING, score DOUBLE").csv(p)
    assert(back.count() == 400)
    assert(back.agg(sum("id")).head.getLong(0) == 400L * 401 / 2)
  }

  test("codec registration: each codec listed once beside the discovered ones, in either order") {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "io.compression.codecs"
    val saved = Option(conf.get(key))
    val discovered = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.util.ServiceLoader.load(classOf[org.apache.hadoop.io.compress.CompressionCodec])
        .iterator()).asScala.map(_.getClass.getName).toSeq
    val register = Map[String, () => Unit](
      ZstdCodec.Name -> (() => ZstdCodec.register(spark)),
      ZipCsvCodec.Name -> (() => ZipCsvCodec.register(spark)))
    try for (order <- Seq(Seq(ZstdCodec.Name, ZipCsvCodec.Name), Seq(ZipCsvCodec.Name, ZstdCodec.Name))) {
      conf.unset(key)
      (order ++ order).foreach(register(_)())
      assert(conf.get(key).split(",").toSeq === discovered ++ order)
      val p = tmp() + "/out.csv.gz"
      CsvSingleFile.write(sample(50), p, Map("header" -> "true", "compression" -> "gzip"))
      val back = spark.read.option("header", "true")
        .schema("id BIGINT, name STRING, score DOUBLE").csv(p)
      assert(back.count() == 50, s"a .csv.gz no longer reads after registering $order")
    } finally saved match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  test("bzip2: ONE file out, and the read back SPLITS across tasks") {
    val p = tmp() + "/out.csv.bz2"
    CsvSingleFile.write(sample(20000).repartition(6), p,
      Map("header" -> "true", "compression" -> "bzip2"))
    assert(Files.isRegularFile(Paths.get(p)), "exactly one regular file expected")
    // bz2 is the splittable container: Hadoop's Bzip2Codec resyncs on the
    // 48-bit block magic, so even a single stitched file scans in parallel.
    // Force small splits so this test-sized file exercises >1 read task.
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val back = spark.read.option("header", "true")
        .schema("id BIGINT, name STRING, score DOUBLE").csv(p)
      assert(back.rdd.getNumPartitions > 1,
        s"single .csv.bz2 must split into >1 read task, got ${back.rdd.getNumPartitions}")
      assert(back.count() == 20000)
      assert(back.agg(sum("id")).head.getLong(0) == 20000L * 20001 / 2)
      assert(back.where(col("id") === 1).head.getString(1) == "name_1")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
    }
  }

  test("quoting/sep options flow through; header uses the same encoding") {
    val sp = spark; import sp.implicits._
    val p = tmp() + "/out.csv"
    val df = Seq((1L, "a;b", "plain"), (2L, "q\"uo", "x"))
      .toDF("id", "tricky;name", "v")
    CsvSingleFile.write(df.repartition(2), p,
      Map("header" -> "true", "sep" -> ";", "escape" -> "\""))
    val back = spark.read.option("header", "true").option("sep", ";")
      .option("escape", "\"").csv(p)
    assert(back.columns.toSeq == Seq("id", "tricky;name", "v"))
    assert(back.count() == 2)
    assert(back.where(col("id") === 1).head.getString(1) == "a;b")
    assert(back.where(col("id") === 2).head.getString(1) == "q\"uo")
  }

  test("empty frame writes a header-only file; overwrite replaces") {
    val p = tmp() + "/out.csv"
    CsvSingleFile.write(sample(10), p, Map("header" -> "true"))
    CsvSingleFile.write(sample(0).limit(0), p, Map("header" -> "true"))
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(Paths.get(p))).asScala
    assert(lines.toSeq == Seq("id,name,score"))
    intercept[IllegalArgumentException] {
      CsvSingleFile.write(sample(1), p, Map.empty, overwrite = false)
    }
  }

  test("overwrite replaces a prior DIRECTORY-of-parts write at the same path") {
    val p = tmp() + "/out.csv"
    // a directory target from Spark's normal parallel CSV sink
    sample(20).repartition(2).write.option("header", "true").csv(p)
    assert(Files.isDirectory(Paths.get(p)))
    CsvSingleFile.write(sample(50).repartition(3), p, Map("header" -> "true"))
    assert(Files.isRegularFile(Paths.get(p)), "directory must be replaced by the one file")
    val back = spark.read.option("header", "true")
      .schema("id BIGINT, name STRING, score DOUBLE").csv(p)
    assert(back.count() == 50)
  }

  test("non-concatenable codec is rejected loudly") {
    val e = intercept[RuntimeException] {
      CsvSingleFile.write(sample(5), tmp() + "/x.csv.sz",
        Map("compression" -> "snappy"))
    }
    assert(e.getMessage.contains("not stitchable"))
  }

  test("remote scheme (s3a shape): stitch through the Hadoop FS path") {
    // alias scheme backed by the local FS — same integration shape as
    // s3a:// / gs:// without network: fs.create target, fs.open parts,
    // fs.delete tmp all go through the Hadoop FileSystem API
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockFs].getName)
    val dir = tempDir("mockcsv")
    val p = s"mockfs:$dir/out.csv.gz"
    CsvSingleFile.write(sample(300).repartition(4), p,
      Map("header" -> "true", "compression" -> "gzip"))
    assert(Files.isRegularFile(Paths.get(s"$dir/out.csv.gz")))
    assert(Files.list(Paths.get(dir)).toArray.length == 1,
      "tmp stitch directory must be cleaned up")
    val back = spark.read.option("header", "true")
      .schema("id BIGINT, name STRING, score DOUBLE").csv(p)
    assert(back.count() == 300)
    assert(back.agg(sum("id")).head.getLong(0) == 300L * 301 / 2)
  }

  test("row order equals partition order (matches a directory read)") {
    val p = tmp() + "/out.csv"
    val df = sample(100).repartition(4, col("id"))
    CsvSingleFile.write(df, p, Map("header" -> "false"))
    val single = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(Paths.get(p))).asScala.toSeq
    val dir = tmp() + "/parts"
    df.write.option("header", "false").csv(dir)
    val partsOrdered = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.matches(".*/part-.*\\.csv")).sorted
      .flatMap(f => scala.jdk.CollectionConverters.ListHasAsScala(
        Files.readAllLines(Paths.get(f))).asScala).toSeq
    assert(single == partsOrdered)
  }
}
