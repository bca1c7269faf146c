package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** What the index snapshot ([[IndexMaintenance]]) buys and what it must
  * not cost: a repeat probe runs only its scoring jobs, a delete costs
  * the next probe exactly one job over the new ledger file, a cleared
  * snapshot reloads exactly its three parts and answers the same, and
  * probes racing a writer on another thread neither fail nor return a
  * deleted id. */
class IndexSnapshotSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val jobs = new AtomicLong(0)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("index-snapshot-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The body's result and the Spark jobs it ran. */
  private def jobsOf[T](body: => T): (T, Long) = {
    TestListenerBus.drain(spark.sparkContext)
    val j0 = jobs.get()
    val out = body
    TestListenerBus.drain(spark.sparkContext)
    (out, jobs.get() - j0)
  }

  private def vec(i: Long): Seq[Double] = {
    val r = new scala.util.Random(i)
    Seq.fill(8)(r.nextGaussian())
  }

  private def vecs(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i, vec(i))).toDF("id", "v")
  }

  private val vocab = Vector("spark", "vector", "stream", "data", "index", "query",
    "fold", "probe", "batch")

  private def docs(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(4 + r.nextInt(12))(vocab(r.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "text")
  }

  private def ids(df: DataFrame): DataFrame = {
    val s = spark
    import s.implicits._
    df.select("id").as[Long].collect().toSeq.toDF("id")
  }

  private def queries: DataFrame = vecs(Seq(-1L, -2L))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private case class Surface(bound: Int, build: String => Unit,
      probe: String => Seq[String], delete: (String, Seq[Long]) => Unit)

  private def surfaces: Seq[(String, Surface)] = Seq(
    "IVF" -> Surface(4,
      p => Similarity.writeIvfIndex(vecs(0L until 80L), "id", "v", p, nlist = 4, iters = 4),
      p => rows(Similarity.ivfTopKIndexed(queries, "id", "v", p, k = 3, nprobe = 2)),
      (p, d) => Similarity.deleteFromIvfIndex(ids(vecs(d)), p)),
    "IVFPQ" -> Surface(8,
      p => Pq.writePqIndex(vecs(0L until 80L), "id", "v", p, nlist = 4, m = 4, ksub = 8,
        iters = 4),
      p => rows(Pq.pqTopKIndexed(queries, "id", "v", p, k = 3, nprobe = 2)),
      (p, d) => Pq.deleteFromPqIndex(ids(vecs(d)), p)),
    "BM25" -> Surface(9,
      p => Curation.writeBm25Index(docs(0L until 80L), "id", "text", p, buckets = 4),
      p => rows(Curation.bm25SearchIndexed(spark, p, Seq("spark", "data"), topK = 5)),
      (p, d) => Curation.deleteFromBm25Index(ids(docs(d)), p)))

  for ((name, f) <- surfaces)
    test(s"$name: a repeat probe runs at most ${f.bound} jobs; a 5-id delete costs the next " +
        "probe exactly one job, over the new ledger file") {
      val p = Files.createTempDirectory(s"snapjobs-$name").toString + "/idx"
      f.build(p)
      f.delete(p, Seq(70L)) // the ledger exists from here on, its schema known
      f.probe(p) // warm: routing, schemas and ledger load once
      val reloads0 = IndexMaintenance.snapshotReloads.get()
      val reuses0 = IndexMaintenance.snapshotReuses.get()
      val (_, repeat) = jobsOf(f.probe(p))
      assert(repeat <= f.bound, s"repeat probe ran $repeat jobs")
      val (_, again) = jobsOf(f.probe(p))
      assert(again === repeat, "a repeat probe's job count is stable")
      assert(IndexMaintenance.snapshotReloads.get() === reloads0, "nothing reloaded")
      assert(IndexMaintenance.snapshotReuses.get() > reuses0)

      f.delete(p, Seq(71L, 72L, 73L, 74L, 75L))
      val growths0 = IndexMaintenance.snapshotGrowths.get()
      val (warm, afterDelete) = jobsOf(f.probe(p))
      assert(afterDelete === repeat + 1, "one job reads the new ledger file")
      assert(IndexMaintenance.snapshotGrowths.get() === growths0 + 1)
      assert(IndexMaintenance.snapshotReloads.get() === reloads0)

      IndexMaintenance.clearSnapshot()
      val (cold, _) = jobsOf(f.probe(p))
      assert(IndexMaintenance.snapshotReloads.get() === reloads0 + 3,
        "a cold probe reloads routing, schemas and ledger once each")
      assert(cold === warm, "the warm snapshot answers like a cold read")
    }

  test("four threads probe one index while a fifth appends and deletes: none fails, " +
      "every answer is live") {
    val base = Files.createTempDirectory("snapconc").toString
    val ivf = s"$base/ivf"
    val bm25 = s"$base/bm25"
    Similarity.writeIvfIndex(vecs(0L until 60L), "id", "v", ivf, nlist = 4, iters = 4)
    Curation.writeBm25Index(docs(0L until 60L), "id", "text", bm25, buckets = 4)
    val deleted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    @volatile var writing = true
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // (answer ids, ids deleted before the probe started)
    val answers = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[Long], Set[Long])]()
    def guarded(body: => Unit): Thread = {
      val t = new Thread(() => try body catch { case e: Throwable => failures.add(e); () })
      t.start(); t
    }
    val writer = guarded {
      try for (round <- 0 until 4) {
        val fresh = (100L + round * 10) until (110L + round * 10)
        Similarity.appendIvfIndex(vecs(fresh), "id", "v", ivf)
        Curation.appendBm25Index(docs(fresh), "id", "text", bm25)
        val gone = Seq(round * 3L, round * 3L + 1)
        Similarity.deleteFromIvfIndex(ids(vecs(gone)), ivf)
        Curation.deleteFromBm25Index(ids(docs(gone)), bm25)
        gone.foreach(deleted.add)
      } finally writing = false
    }
    val readers = (0 until 4).map { r =>
      guarded {
        var n = 0
        while (writing || n < 2) {
          val before = deleted.asScala.toSet
          val got =
            if (r % 2 == 0)
              Similarity.ivfTopKIndexed(queries, "id", "v", ivf, k = 5, nprobe = 4)
                .collect().map(_.getLong(1)).toSeq
            else
              Curation.bm25SearchIndexed(spark, bm25, Seq("spark", "index"), topK = 5)
                .collect().map(_.getLong(0)).toSeq
          answers.add((got, before))
          n += 1
        }
      }
    }
    (writer +: readers).foreach(_.join())
    assert(failures.isEmpty, failures.asScala.map(_.toString).mkString("; "))
    assert(answers.size >= 8)
    answers.asScala.foreach { case (got, before) =>
      assert(got.nonEmpty && got.forall(id => !before(id)),
        s"answer $got holds an id deleted before the probe started ($before)")
    }
  }
}
