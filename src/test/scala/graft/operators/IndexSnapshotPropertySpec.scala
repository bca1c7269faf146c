package graft.operators

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The index snapshot must equal a cold read, whatever was done to the
  * index in between. For each family a seeded sequence runs every
  * lifecycle op once — probe; keyed and manual append; fresh and
  * repeated delete; fold; resident compaction; purge; a fold crashed at
  * a phase through [[IndexMaintenance.failpoint]] and then recovered;
  * and an in-place rebuild with different `metaCols` — some of them
  * from a second session. After every step: a probe through the warm
  * snapshot equals the same probe after the snapshot is cleared; the
  * exhaustive probe equals brute force (BM25: the unindexed
  * `bm25Search`) over the model's live rows; the tables' schemas the
  * snapshot serves equal inferred ones; and the BM25 stats row it
  * serves equals a fresh read of the stats files. */
class IndexSnapshotPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val Seed = 20261018L

  private var spark: SparkSession = _
  private var other: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("index-snapshot-property-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    other = spark.newSession()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val Ops = Seq("probe", "keyed-append", "manual-append", "fresh-delete",
    "repeated-delete", "fold", "compact-resident", "purge", "crash-recover", "rebuild-in-place")

  private def vec(i: Long): Seq[Double] = {
    val r = new scala.util.Random(i * 31 + 7)
    Seq.fill(6)(r.nextGaussian())
  }

  private val vocab = Vector("spark", "vector", "stream", "data", "index", "query",
    "fold", "probe", "batch", "cell")

  private def text(i: Long): String = {
    val r = new scala.util.Random(i * 17 + 3)
    Seq.fill(3 + r.nextInt(10))(vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  /** One family under test: how each op lands, how it is probed, and
    * what the oracle over the live ids answers. */
  private abstract class Fam(val name: String, val family: IndexMaintenance.Family[_]) {
    def rows(s: SparkSession, ids: Seq[Long], meta: Seq[String]): DataFrame
    def build(s: SparkSession, p: String, ids: Seq[Long], meta: Seq[String]): Unit
    def keyed(s: SparkSession, p: String, ids: Seq[Long], batch: Long, meta: Seq[String]): Unit
    def manual(s: SparkSession, p: String, ids: Seq[Long], meta: Seq[String]): Unit
    def delete(s: SparkSession, p: String, ids: Seq[Long]): Unit
    def fold(s: SparkSession, p: String, committed: Long): Unit
    def compact(s: SparkSession, p: String): Unit
    def purge(s: SparkSession, p: String): Unit
    def recover(s: SparkSession, p: String): Unit
    def probe(s: SparkSession, p: String, exhaustive: Boolean, live: Int): Seq[String]
    def oracle(live: Seq[Long]): Seq[String]
  }

  private def fmt(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.4f"
      case x => String.valueOf(x)
    }.mkString(",")).sorted.toSeq

  private abstract class VecFam(n: String, f: IndexMaintenance.Family[_]) extends Fam(n, f) {
    def rows(s: SparkSession, ids: Seq[Long], meta: Seq[String]): DataFrame = {
      import s.implicits._
      val df = ids.map(i => (i, vec(i))).toDF("id", "v")
      if (meta.isEmpty) df else df.withColumn("tag", (col("id") % 3).cast("int"))
    }
    def queries(s: SparkSession): DataFrame = {
      import s.implicits._
      Seq((-1L, vec(-1L)), (-2L, vec(-2L))).toDF("id", "v")
    }
    def oracle(live: Seq[Long]): Seq[String] =
      fmt(Similarity.bruteForceTopK(queries(spark), "id", "v",
        rows(spark, live, Nil), "id", "v", k = 3))
  }

  private object IvfFam extends VecFam("IVF", Similarity.IvfFamily) {
    def build(s: SparkSession, p: String, ids: Seq[Long], meta: Seq[String]): Unit =
      Similarity.writeIvfIndex(rows(s, ids, meta), "id", "v", p, nlist = 4, iters = 4,
        spreadFiles = 1, metaCols = meta)
    def keyed(s: SparkSession, p: String, ids: Seq[Long], b: Long, meta: Seq[String]): Unit =
      Similarity.appendIvfIndexIdempotent(rows(s, ids, meta), "id", "v", p,
        Similarity.loadIvfCentroids(s, p), b, spreadFiles = 1, metaCols = meta)
    def manual(s: SparkSession, p: String, ids: Seq[Long], meta: Seq[String]): Unit =
      Similarity.appendIvfIndex(rows(s, ids, meta), "id", "v", p,
        Similarity.loadIvfCentroids(s, p), spreadFiles = 1, metaCols = meta)
    def delete(s: SparkSession, p: String, ids: Seq[Long]): Unit =
      Similarity.deleteFromIvfIndex(rows(s, ids, Nil).select("id"), p)
    def fold(s: SparkSession, p: String, c: Long): Unit =
      Similarity.compactIvfIndex(s, p, c, spreadFiles = 1)
    def compact(s: SparkSession, p: String): Unit =
      Similarity.compactIvfResident(s, p, maxFilesPerCell = 1, spreadFiles = 1)
    def purge(s: SparkSession, p: String): Unit =
      Similarity.purgeIvfDeletes(s, p, spreadFiles = 1)
    def recover(s: SparkSession, p: String): Unit = Similarity.recoverIvfFold(s, p)
    def probe(s: SparkSession, p: String, exhaustive: Boolean, live: Int): Seq[String] =
      fmt(Similarity.ivfTopKIndexed(queries(s), "id", "v", p, k = 3,
        nprobe = if (exhaustive) 4 else 2))
  }

  private object PqFam extends VecFam("IVFPQ", Pq.PqFamily) {
    def build(s: SparkSession, p: String, ids: Seq[Long], meta: Seq[String]): Unit =
      Pq.writePqIndex(rows(s, ids, meta), "id", "v", p, nlist = 4, m = 3, ksub = 8,
        iters = 4, spreadFiles = 1, metaCols = meta)
    def keyed(s: SparkSession, p: String, ids: Seq[Long], b: Long, meta: Seq[String]): Unit =
      Pq.appendPqIndexIdempotent(rows(s, ids, meta), "id", "v", p, b, spreadFiles = 1,
        metaCols = meta)
    def manual(s: SparkSession, p: String, ids: Seq[Long], meta: Seq[String]): Unit =
      Pq.appendPqIndex(rows(s, ids, meta), "id", "v", p, spreadFiles = 1, metaCols = meta)
    def delete(s: SparkSession, p: String, ids: Seq[Long]): Unit =
      Pq.deleteFromPqIndex(rows(s, ids, Nil).select("id"), p)
    def fold(s: SparkSession, p: String, c: Long): Unit =
      Pq.compactPqIndex(s, p, c, spreadFiles = 1)
    def compact(s: SparkSession, p: String): Unit =
      Pq.compactPqResident(s, p, maxFilesPerCell = 1, spreadFiles = 1)
    def purge(s: SparkSession, p: String): Unit = Pq.purgePqDeletes(s, p, spreadFiles = 1)
    def recover(s: SparkSession, p: String): Unit = Pq.recoverPqFold(s, p)
    // refine × k covers every live row: the exhaustive re-rank is exact
    def probe(s: SparkSession, p: String, exhaustive: Boolean, live: Int): Seq[String] =
      fmt(Pq.pqTopKIndexed(queries(s), "id", "v", p, k = 3,
        nprobe = if (exhaustive) 4 else 2, refine = if (exhaustive) live / 3 + 1 else 4))
  }

  private object Bm25Fam extends Fam("BM25", Curation.Bm25Family) {
    private val terms = Seq("spark", "index", "cell")
    def rows(s: SparkSession, ids: Seq[Long], meta: Seq[String]): DataFrame = {
      import s.implicits._
      val df = ids.map(i => (i, text(i))).toDF("id", "text")
      if (meta.isEmpty) df else df.withColumn("tag", (col("id") % 3).cast("int"))
    }
    def build(s: SparkSession, p: String, ids: Seq[Long], meta: Seq[String]): Unit =
      Curation.writeBm25Index(rows(s, ids, meta), "id", "text", p, buckets = 4,
        spreadFiles = 1, metaCols = meta)
    def keyed(s: SparkSession, p: String, ids: Seq[Long], b: Long, meta: Seq[String]): Unit =
      Curation.appendBm25IndexIdempotent(rows(s, ids, meta), "id", "text", p, b,
        spreadFiles = 1, metaCols = meta)
    def manual(s: SparkSession, p: String, ids: Seq[Long], meta: Seq[String]): Unit =
      Curation.appendBm25Index(rows(s, ids, meta), "id", "text", p, spreadFiles = 1,
        metaCols = meta)
    def delete(s: SparkSession, p: String, ids: Seq[Long]): Unit =
      Curation.deleteFromBm25Index(rows(s, ids, Nil).select("id"), p)
    def fold(s: SparkSession, p: String, c: Long): Unit =
      Curation.compactBm25Index(s, p, c, spreadFiles = 1)
    def compact(s: SparkSession, p: String): Unit =
      Curation.compactBm25Resident(s, p, maxFilesPerBucket = 1, spreadFiles = 1)
    def purge(s: SparkSession, p: String): Unit = Curation.purgeBm25Deletes(s, p, spreadFiles = 1)
    def recover(s: SparkSession, p: String): Unit = Curation.recoverBm25Index(s, p)
    def probe(s: SparkSession, p: String, exhaustive: Boolean, live: Int): Seq[String] =
      fmt(Curation.bm25SearchIndexed(s, p, if (exhaustive) terms else terms.take(1),
        topK = if (exhaustive) 8 else 5))
    def oracle(live: Seq[Long]): Seq[String] =
      fmt(Curation.bm25Search(rows(spark, live, Nil), "id", "text", terms, topK = 8))
  }

  /** The BM25 stats row as a fresh read of its files. */
  private def freshStats(p: String): (Long, Long, Int, Long, Long) = {
    val r = spark.read.parquet(s"$p/stats")
      .select("n_docs", "sum_dl", "buckets", "last_batch", "last_manual").collect()(0)
    (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))
  }

  for (fam <- Seq[Fam](IvfFam, PqFam, Bm25Fam))
    test(s"${fam.name}: after every lifecycle op the warm snapshot equals a cold read and " +
        "the exhaustive probe equals the oracle over the live rows") {
      val seed = Seed + fam.name.hashCode
      val rng = new scala.util.Random(seed)
      val p = Files.createTempDirectory(s"snapprop-${fam.name}").toString + "/idx"
      val live = mutable.LinkedHashSet[Long]((0L until 40L): _*)
      val deleted = mutable.LinkedHashSet.empty[Long]
      var meta: Seq[String] = Nil
      var nextId = 1000L
      var nextBatch = 0L
      fam.build(spark, p, live.toSeq, meta)
      val ops = rng.shuffle(Ops)
      for ((op, step) <- ops.zipWithIndex) {
        val s = if (rng.nextBoolean()) other else spark
        withClue(s"seed $seed, step $step, op $op, session " +
            s"${if (s eq spark) "main" else "second"}: ") {
          def fresh(n: Int) = { val ids = (nextId until nextId + n).toSeq; nextId += n; ids }
          op match {
            case "probe" => fam.probe(s, p, exhaustive = false, live.size)
            case "keyed-append" =>
              val ids = fresh(6)
              fam.keyed(s, p, ids, nextBatch, meta); nextBatch += 1; live ++= ids
            case "manual-append" =>
              val ids = fresh(5); fam.manual(s, p, ids, meta); live ++= ids
            case "fresh-delete" =>
              val ids = rng.shuffle(live.toSeq).take(3)
              fam.delete(s, p, ids); live --= ids; deleted ++= ids
            case "repeated-delete" =>
              val ids = if (deleted.nonEmpty) deleted.take(2).toSeq
                else { val d = rng.shuffle(live.toSeq).take(2); live --= d; deleted ++= d; d }
              fam.delete(s, p, ids)
              fam.delete(s, p, ids)
            case "fold" => fam.fold(s, p, math.max(0L, nextBatch - 1))
            case "compact-resident" => fam.compact(s, p)
            case "purge" =>
              // the purge needs every tombstoned row folded, manual lanes too
              fam.fold(s, p, IndexMaintenance.ManualLaneFloor + 1000L)
              fam.purge(s, p)
              deleted.clear()
            case "crash-recover" =>
              // a fold needs a batch leaf to crash in
              val ids = fresh(4)
              fam.keyed(s, p, ids, nextBatch, meta); nextBatch += 1; live ++= ids
              IndexMaintenance.failpoint = Some(
                if (rng.nextBoolean()) "before-commit" else "before-cleanup")
              try intercept[RuntimeException](fam.fold(s, p, nextBatch - 1))
              finally IndexMaintenance.failpoint = None
              fam.recover(s, p)
            case "rebuild-in-place" =>
              meta = if (meta.isEmpty) Seq("tag") else Nil
              fam.build(s, p, live.toSeq, meta)
              deleted.clear()
          }
          val warm = fam.probe(spark, p, exhaustive = false, live.size)
          val warmStats = fam match {
            case Bm25Fam => Some(Curation.Bm25Family.routing(spark, p))
            case _ => None
          }
          def tableSchemas = fam.family.tables.map(fam.family.schemaOf(spark, p, _))
          val warmSchemas = tableSchemas
          IndexMaintenance.clearSnapshot()
          assert(fam.probe(spark, p, exhaustive = false, live.size) === warm,
            "the warm snapshot answers like a cold read")
          assert(tableSchemas === warmSchemas, "the snapshot's schemas equal inferred ones")
          warmStats.foreach(st => assert(st === freshStats(p),
            "the stats row the snapshot serves equals a fresh read"))
          assert(fam.probe(other, p, exhaustive = true, live.size) === fam.oracle(live.toSeq),
            "the exhaustive probe answers like the oracle over the live rows")
        }
      }
    }
}
