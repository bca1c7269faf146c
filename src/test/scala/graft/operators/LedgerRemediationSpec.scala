package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, pmod, sum, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The remediation paths read the tombstone ledger DISTRIBUTED. With
  * `spark.graft.ledger.maxDriverRows` below the ledger's size a probe
  * refuses (the ledger no longer fits the driver it is broadcast from),
  * yet the advice still counts the tombstones and recommends the purge,
  * the purge runs, and the probe then answers exactly like brute force
  * (or the unindexed `bm25Search`) over the live rows — for each of the
  * three index families. */
class LedgerRemediationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ledger-remediation-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val capKey = "spark.graft.ledger.maxDriverRows"

  // 40 of the 200 rows are deleted — four times the cap set below
  private def deleted(id: Column): Column = pmod(id, lit(5)) === 2

  private def vectors: DataFrame = {
    val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
    spark.range(200).select(col("id").as("vec_id"), gen(col("id")).as("e"))
  }

  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    val vocab = Vector("spark", "vector", "stream", "data", "index", "query",
      "fold", "probe", "batch")
    (0L until 200L).map { id =>
      val r = new scala.util.Random(id)
      (id, Seq.fill(4 + r.nextInt(18))(vocab(r.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def ranked(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sorted.toSeq

  private def scored(df: DataFrame): Seq[(Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  /** One family's remediation surface: build + delete, the exhaustive
    * probe, its oracle over the live rows, the advised action (with a
    * small `maxTombstones`) and the purge's rewritten-cell count. */
  private case class Surface(build: String => Unit, probe: String => Seq[Any],
      oracle: () => Seq[Any], advice: String => MaintenanceAdvice,
      purge: String => Int)

  private val queryTerms = Seq("spark", "vector")

  private def surfaces: Seq[(String, Surface)] = Seq(
    "IVF" -> Surface(
      build = p => {
        Similarity.writeIvfIndex(vectors, "vec_id", "e", p, nlist = 4)
        Similarity.deleteFromIvfIndex(
          vectors.filter(deleted(col("vec_id"))).select(col("vec_id").as("id")), p)
      },
      probe = p => ranked(Similarity.ivfTopKIndexed(
        vectors.filter(col("vec_id") < 5), "vec_id", "e", p, k = 3, nprobe = 4)),
      oracle = () => ranked(Similarity.bruteForceTopK(
        vectors.filter(col("vec_id") < 5), "vec_id", "e",
        vectors.filter(!deleted(col("vec_id"))), "vec_id", "e", k = 3)),
      advice = p => Similarity.maintenanceAdvice(spark, p, maxTombstones = 5),
      purge = p => Similarity.purgeIvfDeletes(spark, p)),
    "IVFPQ" -> Surface(
      build = p => {
        Pq.writePqIndex(vectors, "vec_id", "e", p, nlist = 4, m = 4, ksub = 16)
        Pq.deleteFromPqIndex(
          vectors.filter(deleted(col("vec_id"))).select(col("vec_id").as("id")), p)
      },
      // refine 80 × k 3 covers every live row: the re-rank is exhaustive
      probe = p => ranked(Pq.pqTopKIndexed(
        vectors.filter(col("vec_id") < 5), "vec_id", "e", p, k = 3, nprobe = 4,
        refine = 80)),
      oracle = () => ranked(Similarity.bruteForceTopK(
        vectors.filter(col("vec_id") < 5), "vec_id", "e",
        vectors.filter(!deleted(col("vec_id"))), "vec_id", "e", k = 3)),
      advice = p => Pq.maintenanceAdvice(spark, p, maxTombstones = 5),
      purge = p => { val (c, v) = Pq.purgePqDeletes(spark, p); c + v }),
    "BM25" -> Surface(
      build = p => {
        Curation.writeBm25Index(docs, "doc_id", "text", p, buckets = 8)
        Curation.deleteFromBm25Index(
          docs.filter(deleted(col("doc_id"))).select(col("doc_id").as("id")), p)
      },
      probe = p => scored(Curation.bm25SearchIndexed(spark, p, queryTerms, topK = 15)),
      oracle = () => scored(Curation.bm25Search(
        docs.filter(!deleted(col("doc_id"))), "doc_id", "text", queryTerms, topK = 15)),
      advice = p => Curation.bm25MaintenanceAdvice(spark, p, maxTombstones = 5),
      purge = p => Curation.purgeBm25Deletes(spark, p)))

  for ((name, f) <- surfaces)
    test(s"$name: past the driver-rows cap a probe refuses, advice and purge still run, then the probe is exact") {
      val path = Files.createTempDirectory(s"ledgercap-$name").toString + "/idx"
      f.build(path)
      spark.conf.set(capKey, "10")
      try {
        val e = intercept[IllegalStateException](f.probe(path))
        assert(e.getMessage.contains("exceeds 10 distinct rows"), e.getMessage)
        val advice = f.advice(path)
        assert(advice.action === "purge-deletes", advice.reason)
        assert(advice.reason.contains("40 tombstoned ids"), advice.reason)
        assert(f.purge(path) > 0)
        assert(f.probe(path) === f.oracle(), "the purged index answers like the live rows")
      } finally spark.conf.unset(capKey)
    }

  test("BM25: past the driver-rows cap a fresh delete lands and a re-delete leaves (count, sum dl) unchanged") {
    val s = spark
    import s.implicits._
    val path = Files.createTempDirectory("ledgercap-bm25-delete").toString + "/idx"
    surfaces.toMap.apply("BM25").build(path)
    def stats(): (Long, Long) = {
      val r = spark.read.parquet(s"$path/stats").select("n_docs", "sum_dl").collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // one row per id (max dl), as the probes and the purge count it
    def ledgerAgg(): (Long, Long) = {
      val r = IndexMaintenance.ledger(spark, path).get
        .groupBy("id").agg(max(col("dl")).as("dl"))
        .agg(count(lit(1)), sum(col("dl"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    spark.conf.set(capKey, "10")
    try {
      val built = stats()
      Curation.deleteFromBm25Index(Seq(0L).toDF("id"), path)
      val afterFresh = ledgerAgg()
      assert(afterFresh._1 === 41L, "the fresh delete of a live doc lands past the cap")
      // ids 0 and 2 are both tombstoned already: nothing may be appended
      Curation.deleteFromBm25Index(Seq(0L, 2L).toDF("id"), path)
      assert(ledgerAgg() === afterFresh)
      assert(stats() === built)
      assert(Curation.purgeBm25Deletes(spark, path) > 0)
      assert(stats() === ((built._1 - afterFresh._1, built._2 - afterFresh._2)),
        "the purge folds each deleted doc into the stats row exactly once")
      assert(scored(Curation.bm25SearchIndexed(spark, path, queryTerms, topK = 15)) ===
        scored(Curation.bm25Search(
          docs.filter(!deleted(col("doc_id")) && col("doc_id") =!= 0L),
          "doc_id", "text", queryTerms, topK = 15)))
    } finally spark.conf.unset(capKey)
  }

  private def category(id: Column): Column = pmod(id, lit(3)).cast("int")

  /** backfillMetaCols and the filtered probe of one vector family. */
  private val backfills: Seq[(String, (String, DataFrame) => Boolean, String => Seq[Any])] = Seq(
    ("IVF",
      (p, m) => Similarity.backfillMetaCols(spark, p, m, idCol = "vec_id",
        metaCols = Seq("category")),
      p => ranked(Similarity.ivfTopKIndexed(
        vectors.filter(col("vec_id") < 5), "vec_id", "e", p, k = 3, nprobe = 4,
        filter = Some(col("category") === 1)))),
    ("IVFPQ",
      (p, m) => Pq.backfillMetaCols(spark, p, m, idCol = "vec_id",
        metaCols = Seq("category")),
      p => ranked(Pq.pqTopKIndexed(
        vectors.filter(col("vec_id") < 5), "vec_id", "e", p, k = 3, nprobe = 4,
        refine = 80, filter = Some(col("category") === 1)))))

  for ((name, backfill, filteredProbe) <- backfills)
    test(s"$name: past the driver-rows cap backfillMetaCols still checks live-row coverage and backfills") {
      val path = Files.createTempDirectory(s"ledgercap-backfill-$name").toString + "/idx"
      val f = surfaces.toMap.apply(name)
      f.build(path)
      // tombstoned ids are exempt from coverage: the meta holds live ids only
      val meta = spark.range(200).filter(!deleted(col("id")))
        .select(col("id").as("vec_id"), category(col("id")).as("category"))
      spark.conf.set(capKey, "10")
      try {
        val e = intercept[IllegalArgumentException](
          backfill(path, meta.filter(col("vec_id") =!= 0L)))
        assert(e.getMessage.contains("does not cover every live row"), e.getMessage)
        assert(backfill(path, meta))
        assert(f.purge(path) > 0)
        assert(filteredProbe(path) === ranked(Similarity.bruteForceTopK(
          vectors.filter(col("vec_id") < 5), "vec_id", "e",
          vectors.filter(!deleted(col("vec_id")) && category(col("vec_id")) === 1),
          "vec_id", "e", k = 3)), "the backfilled index answers filtered probes exactly")
      } finally spark.conf.unset(capKey)
    }

  test("readDeletes refuses past the cap; the remediation read of the same ledger is complete") {
    val s = spark
    import s.implicits._
    val idx = Files.createTempDirectory("ledgercap").toString + "/idx"
    (0L until 20L).map(i => (i, 10)).toDF("id", "dl")
      .coalesce(1).write.parquet(IndexMaintenance.deletesDir(idx))
    spark.conf.set(capKey, "19")
    try {
      intercept[IllegalStateException](IndexMaintenance.readDeletes(spark, idx))
      // the REMEDIATION paths (purge/rebuild/advice) read distributed — an
      // over-cap ledger must not wedge the index against its own fix
      assert(IndexMaintenance.ledger(spark, idx).map(_.count()) === Some(20L))
    } finally spark.conf.unset(capKey)
  }

  test("a ledger that grows past the cap is refused and never cached") {
    val s = spark
    import s.implicits._
    val idx = Files.createTempDirectory("ledgercapgrow").toString + "/idx"
    def deleteIds(ids: Seq[Long]): Unit = ids.map(i => (i, 10)).toDF("id", "dl")
      .coalesce(1).write.mode("append").parquet(IndexMaintenance.deletesDir(idx))
    spark.conf.set(capKey, "19")
    try {
      deleteIds(0L until 10L)
      // warm: a ledger within the cap is served and cached
      assert(IndexMaintenance.readDeletes(spark, idx).map(_.count()) === Some(10L))
      assert(IndexMaintenance.snapshotLedgerRows(spark, idx) === Some(10))
      // each later delete stays under the cap on its own, the ledger does not
      deleteIds(10L until 25L)
      intercept[IndexMaintenance.LedgerCapExceeded](IndexMaintenance.readDeletes(spark, idx))
      deleteIds(25L until 40L)
      intercept[IndexMaintenance.LedgerCapExceeded](IndexMaintenance.readDeletes(spark, idx))
      assert(IndexMaintenance.snapshotLedgerRows(spark, idx).forall(_ <= 19),
        "a ledger past the cap was cached")
    } finally spark.conf.unset(capKey)
  }
}
