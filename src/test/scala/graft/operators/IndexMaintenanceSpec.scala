package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The incremental index fold's contract (r15): committed batch leaves
  * fold into the `-1` layer WITHOUT reading or rewriting the resident
  * `-1` files; a crash at any point leaves deterministic debris that
  * recovery rolls back or forward; writers and readers refuse loudly on
  * unrecovered debris (the r14 rename-swap's silent-destruction window
  * is gone); and `spreadFiles` pins the write fan-out explicitly so
  * layouts reproduce across differently-sized sessions. */
class IndexMaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("index-maintenance-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def vec(seed: Int): Seq[Double] = {
    val r = new scala.util.Random(seed)
    Seq.fill(6)(r.nextGaussian())
  }

  private def mkCorpus(ids: Range) = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, vec(i))).toDF("id", "v")
  }

  /** (relative path, length, mtime) of every data file under the -1
    * leaves — the fold must never touch these. */
  private def residentFiles(corpus: String): Map[String, (Long, Long)] = {
    val root = new java.io.File(corpus)
    (for {
      cell <- root.listFiles().toSeq if cell.isDirectory && cell.getName.startsWith("cell=")
      leaf <- cell.listFiles().toSeq if leaf.isDirectory && leaf.getName == "ingest_batch=-1"
      f <- leaf.listFiles().toSeq if f.isFile && f.getName.endsWith(".parquet")
    } yield s"${cell.getName}/${f.getName}" -> ((f.length(), f.lastModified()))).toMap
  }

  private def buildWithBatches(tag: String): (String, String) = {
    val base = Files.createTempDirectory(tag).toString
    val idx = s"$base/idx"
    Similarity.writeIvfIndex(mkCorpus(0 until 60), "id", "v", idx, nlist = 4, iters = 4)
    val cents = Similarity.loadIvfCentroids(spark, idx)
    Similarity.appendIvfIndexIdempotent(mkCorpus(200 until 210), "id", "v", idx, cents, 0L)
    Similarity.appendIvfIndexIdempotent(mkCorpus(210 until 220), "id", "v", idx, cents, 1L)
    Similarity.appendIvfIndexIdempotent(mkCorpus(220 until 230), "id", "v", idx, cents, 2L)
    (base, idx)
  }

  private def ask(idx: String) = Similarity.ivfTopKIndexed(
    mkCorpus(300 until 303), "id", "v", idx, k = 4, nprobe = 4)
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    .sortBy(x => (x._1, x._4)).toSeq

  test("incremental fold never touches the resident -1 files; additions are fold-named") {
    val (_, idx) = buildWithBatches("imfold")
    val before = residentFiles(s"$idx/corpus")
    assert(before.nonEmpty)
    val answers = ask(idx)
    Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L)
    val after = residentFiles(s"$idx/corpus")
    // every pre-fold resident file is still there, byte-for-byte untouched
    before.foreach { case (rel, meta) =>
      assert(after.get(rel).contains(meta),
        s"fold touched resident file $rel: was $meta, now ${after.get(rel)}")
    }
    // and the only additions are this fold's staged-in files
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty, "fold must have moved batch rows into -1")
    assert(added.forall(_.split("/").last.startsWith("fold1-")),
      s"unexpected non-fold additions: $added")
    assert(ask(idx) === answers)
    assert(spark.read.parquet(s"$idx/corpus").count() === 90L)
    // no staging debris survives a clean fold
    assert(Similarity.recoverIvfFold(spark, idx).isEmpty)
  }

  test("fold with nothing committed is a no-op; repeated fold adds nothing") {
    val (_, idx) = buildWithBatches("imnoop")
    val before = residentFiles(s"$idx/corpus")
    // committedBatchId below every leaf -> nothing to fold
    Similarity.compactIvfIndex(spark, idx, committedBatchId = -1L)
    assert(residentFiles(s"$idx/corpus") === before)
    Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L)
    val folded = residentFiles(s"$idx/corpus")
    // a second fold at the same watermark finds no leaves -> no-op
    Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L)
    assert(residentFiles(s"$idx/corpus") === folded)
  }

  test("crash before commit: rollback restores the pre-fold state exactly") {
    val (_, idx) = buildWithBatches("imroll")
    val before = residentFiles(s"$idx/corpus")
    val answers = ask(idx)
    IndexMaintenance.failpoint = Some("before-commit")
    try intercept[RuntimeException] {
      Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L)
    } finally IndexMaintenance.failpoint = None
    // debris present: appends AND reads refuse with the remedy.
    // Deliberately NO resetLayoutCheckCache here: buildWithBatches warmed
    // the layout memo in THIS JVM, and starting the fold must have
    // invalidated it — a memoized appender silently appending around
    // debris was the r15 review's finding #2.
    val cents = Similarity.loadIvfCentroids(spark, idx)
    val e1 = intercept[IllegalStateException] {
      Similarity.appendIvfIndexIdempotent(mkCorpus(400 until 404), "id", "v", idx, cents, 3L)
    }
    assert(e1.getMessage.contains("recover"), e1.getMessage)
    IndexMaintenance.readGateWaitMs = 400L // crash path: don't stall the suite
    val e2 = try intercept[IllegalStateException] { ask(idx) }
      finally IndexMaintenance.readGateWaitMs = 15000L
    assert(e2.getMessage.contains("debris"), e2.getMessage)
    // rollback: fold files removed, originals (batch leaves) intact
    val msg = Similarity.recoverIvfFold(spark, idx)
    assert(msg.exists(_.contains("BACK")), s"expected rollback, got $msg")
    assert(residentFiles(s"$idx/corpus") === before,
      "rollback must restore the -1 layer exactly")
    assert(spark.read.parquet(s"$idx/corpus").count() === 90L)
    assert(ask(idx) === answers)
    // recovery is idempotent and the fold then completes normally
    assert(Similarity.recoverIvfFold(spark, idx).isEmpty)
    Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L)
    assert(ask(idx) === answers)
    assert(spark.read.parquet(s"$idx/corpus").count() === 90L)
  }

  test("crash after commit: roll-forward finishes the fold deterministically") {
    val (_, idx) = buildWithBatches("imfwd")
    val answers = ask(idx)
    IndexMaintenance.failpoint = Some("before-cleanup")
    try intercept[RuntimeException] {
      Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L)
    } finally IndexMaintenance.failpoint = None
    // this is the window where folded rows are transiently visible twice
    // — a marker outliving the read gate's wait means crash, not live fold
    IndexMaintenance.readGateWaitMs = 400L
    try intercept[IllegalStateException] { ask(idx) }
    finally IndexMaintenance.readGateWaitMs = 15000L
    val msg = Similarity.recoverIvfFold(spark, idx)
    assert(msg.exists(_.contains("FORWARD")), s"expected roll-forward, got $msg")
    val batches = spark.read.parquet(s"$idx/corpus")
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batches === Set(-1L, 2L), s"roll-forward must leave -1 + uncommitted: $batches")
    assert(spark.read.parquet(s"$idx/corpus").count() === 90L)
    assert(ask(idx) === answers)
    assert(Similarity.recoverIvfFold(spark, idx).isEmpty)
  }

  test("legacy r14 swap debris: fatal window restores, residue cleans, readers refuse meanwhile") {
    val (base, idx) = buildWithBatches("imlegacy")
    val answers = ask(idx)
    val corpus = new java.io.File(s"$idx/corpus")
    val old = new java.io.File(s"$idx/corpus_old")
    // the advisor's fatal window: live corpus renamed aside, nothing in
    // its place — r14 code would have silently rebuilt an empty index
    // and a later compact would have DELETED corpus_old
    assert(corpus.renameTo(old))
    Similarity.resetLayoutCheckCache()
    val e = intercept[IllegalStateException] { ask(idx) }
    assert(e.getMessage.contains("pre-r15"), e.getMessage)
    val msg = Similarity.recoverIvfFold(spark, idx)
    assert(msg.exists(_.contains("restored")), s"got $msg")
    assert(ask(idx) === answers)
    // residue case: corpus present, a stale corpus_old beside it
    assert(old.mkdir())
    Similarity.resetLayoutCheckCache()
    intercept[IllegalStateException] { ask(idx) }
    assert(Similarity.recoverIvfFold(spark, idx).exists(_.contains("stale")))
    assert(ask(idx) === answers)
  }

  test("spreadFiles pins the fan-out: fixed-S layout regardless of session parallelism") {
    // derived S on local[4] at nlist 2 is ceil(2*4/2) = 4 — so a 1-file
    // layout can only come from the explicit override
    assert(Similarity.cellSpreadBound(spark, nlist = 2) === 4)
    val base = Files.createTempDirectory("imspread").toString
    val idx = s"$base/idx"
    Similarity.writeIvfIndex(mkCorpus(0 until 80).repartition(8), "id", "v", idx,
      nlist = 2, iters = 4, spreadFiles = 1)
    def leafFiles(): Seq[Int] = (for {
      cell <- new java.io.File(s"$idx/corpus").listFiles().toSeq
      if cell.isDirectory && cell.getName.startsWith("cell=")
      leaf <- cell.listFiles().toSeq if leaf.isDirectory
    } yield leaf.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet")))
    assert(leafFiles().forall(_ == 1), s"spreadFiles=1 build: ${leafFiles()}")
    val cents = Similarity.loadIvfCentroids(spark, idx)
    Similarity.appendIvfIndexIdempotent(mkCorpus(200 until 240).repartition(8),
      "id", "v", idx, cents, 0L, spreadFiles = 1)
    assert(leafFiles().forall(_ == 1), s"spreadFiles=1 append: ${leafFiles()}")
    Similarity.compactIvfIndex(spark, idx, committedBatchId = 0L, spreadFiles = 1)
    // -1 leaves: 1 resident + 1 fold file; no batch leaves remain
    assert(leafFiles().forall(_ <= 2), s"spreadFiles=1 fold: ${leafFiles()}")
    assert(spark.read.parquet(s"$idx/corpus").count() === 120L)
  }

  test("PQ twin: fabricated fold debris blocks appends/reads; recoverPqFold clears it") {
    val s = spark
    import s.implicits._
    val gen = org.apache.spark.sql.functions.udf(
      (id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
    val df = spark.range(200).select(col("id").as("vec_id"), gen(col("id")).as("e"))
    val base = Files.createTempDirectory("impq").toString
    val idx = s"$base/idx"
    Pq.writePqIndex(df, "vec_id", "e", idx, nlist = 4, m = 4, ksub = 16)
    val q = df.filter(col("vec_id") < 3)
    def pqAsk() = Pq.pqTopKIndexed(q, "vec_id", "e", idx, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(x => (x._1, x._4)).toSeq
    val answers = pqAsk()
    // an interrupted fold's staged marker (empty fold = trivially
    // rollback-able) must still block every entry point
    val marker = new java.io.File(s"$idx/codes/_fold_staged")
    assert(marker.createNewFile())
    // hand-made debris (no fold ran in this JVM) models a fresh JVM
    // after a crash — reset stands in for the empty memo
    Pq.resetLayoutCheckCache()
    val e1 = intercept[IllegalStateException] {
      Pq.appendPqIndexIdempotent(df.limit(5), "vec_id", "e", idx, batchId = 0L)
    }
    assert(e1.getMessage.contains("recoverPqFold"), e1.getMessage)
    IndexMaintenance.readGateWaitMs = 400L
    try intercept[IllegalStateException] { pqAsk() }
    finally IndexMaintenance.readGateWaitMs = 15000L
    assert(Pq.recoverPqFold(spark, idx).exists(_.contains("BACK")))
    assert(pqAsk() === answers)
    assert(Pq.recoverPqFold(spark, idx).isEmpty)
  }

  test("reader gate: a live fold's marker window delays the read; tmp alone never blocks it") {
    // The r15 review's headline: a retrieval stream must survive a
    // concurrent in-stream fold. Phase 1 of a fold (the expensive tmp
    // write) must not block readers at all; the sub-second marker window
    // must DELAY a reader until it clears, not fail it.
    val (_, idx) = buildWithBatches("imlive")
    val answers = ask(idx)
    // fold-tmp present (phase 1): readers proceed immediately
    val tmp = new java.io.File(s"$idx/corpus_fold_tmp")
    assert(tmp.mkdir())
    assert(ask(idx) === answers, "fold tmp alone must not block readers")
    assert(tmp.delete())
    // marker present (move window): reader waits, then proceeds when a
    // "live fold" clears it mid-wait
    val marker = new java.io.File(s"$idx/corpus/_fold_staged")
    assert(marker.createNewFile())
    val clearer = new Thread(() => { Thread.sleep(700); marker.delete(); () })
    clearer.start()
    IndexMaintenance.readGateWaitMs = 10000L
    val t0 = System.nanoTime()
    val got = try ask(idx) finally {
      IndexMaintenance.readGateWaitMs = 15000L; clearer.join()
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(got === answers)
    assert(waited >= 0.5, f"reader must have waited for the marker window: $waited%.2f s")
    // and the writer form still treats tmp as debris (single-writer
    // contract: a writer can never race a live fold)
    assert(tmp.mkdir())
    val cents = Similarity.loadIvfCentroids(spark, idx)
    Similarity.resetLayoutCheckCache()
    val e = intercept[IllegalStateException] {
      Similarity.appendIvfIndexIdempotent(mkCorpus(500 until 504), "id", "v", idx, cents, 9L)
    }
    assert(e.getMessage.contains("staging output"), e.getMessage)
    assert(tmp.delete())
  }

  test("IVF backfillMetaCols on a flat pre-r12 partitionBy(cell) corpus refuses with the rebuild remedy; the contract file is untouched") {
    import org.apache.spark.sql.functions.{lit, pmod, udf}
    val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
    val df = spark.range(100).select(col("id").as("vec_id"), gen(col("id")).as("e"),
      pmod(col("id"), lit(3)).cast("int").as("category"))
    val flatPath = Files.createTempDirectory("ivfflat").toString + "/idx"
    Similarity.writeIvfIndex(df, "vec_id", "e", flatPath, nlist = 4,
      metaCols = Seq("category"))
    // flatten: rewrite the corpus in place as the OLD single-level layout
    // (data files directly under cell= dirs, no ingest_batch) — the
    // centroids and the `_meta_cols` contract stay valid
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmr); f.delete(); ()
    }
    spark.read.parquet(s"$flatPath/corpus").drop("ingest_batch")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$flatPath/corpus_flat")
    rmr(new java.io.File(s"$flatPath/corpus"))
    assert(new java.io.File(s"$flatPath/corpus_flat")
      .renameTo(new java.io.File(s"$flatPath/corpus")))
    val fs = new org.apache.hadoop.fs.Path(flatPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(IndexMaintenance.readMetaColsFile(fs, flatPath) === Seq("category"))
    Similarity.resetLayoutCheckCache()
    val meta = spark.range(100)
      .select(col("id"), pmod(col("id"), lit(2)).cast("int").as("lang"))
    val e = intercept[IllegalStateException] {
      Similarity.backfillMetaCols(spark, flatPath, meta, metaCols = Seq("lang"))
    }
    assert(e.getMessage.contains("Rebuild the index with writeIvfIndex"), e.getMessage)
    // refused BEFORE any write: a `_meta_cols` union naming `lang` would
    // make every later append demand a column no stored row carries
    assert(IndexMaintenance.readMetaColsFile(fs, flatPath) === Seq("category"))
    assert(!new java.io.File(s"$flatPath/_backfill_meta").exists())
  }

  test("PQ append into a flat pre-r15 partitionBy(cell) layout fails with a rebuild message") {
    val s = spark
    import s.implicits._
    val gen = org.apache.spark.sql.functions.udf(
      (id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
    val df = spark.range(100).select(col("id").as("vec_id"), gen(col("id")).as("e"))
    val base = Files.createTempDirectory("impqflat").toString
    val idx = s"$base/idx"
    Pq.writePqIndex(df, "vec_id", "e", idx, nlist = 4, m = 4, ksub = 16)
    // flatten: build a complete second index, then rewrite its tables
    // in place as the OLD single-level layout (data files directly
    // under cell= dirs, no ingest_batch) — the model dir stays valid
    val flatPath = s"$base/flatidx"
    Pq.writePqIndex(df, "vec_id", "e", flatPath, nlist = 4, m = 4, ksub = 16)
    def rmr(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmr); f.delete(); ()
    }
    for (t <- Seq("codes", "vectors")) {
      spark.read.parquet(s"$flatPath/$t").drop("ingest_batch")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$flatPath/${t}_flat")
      rmr(new java.io.File(s"$flatPath/$t"))
      assert(new java.io.File(s"$flatPath/${t}_flat")
        .renameTo(new java.io.File(s"$flatPath/$t")))
    }
    Pq.resetLayoutCheckCache()
    val e1 = intercept[IllegalStateException] {
      Pq.appendPqIndex(df.limit(5), "vec_id", "e", flatPath)
    }
    assert(e1.getMessage.contains("Rebuild"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      Pq.appendPqIndexIdempotent(df.limit(5), "vec_id", "e", flatPath, batchId = 0L)
    }
    assert(e2.getMessage.contains("Rebuild"), e2.getMessage)
    // the current layout still appends fine (no false hits)
    Pq.appendPqIndexIdempotent(df.limit(5), "vec_id", "e", idx, batchId = 0L)
    assert(spark.read.parquet(s"$idx/codes").count() === 105L)
  }

  test("layout stats track the lifecycle: appends accrue leaves, folds remove them, files bounded") {
    // The maintenance loop's THIRD signal (next to drift and the retrain
    // verdict): layout health. The scaladocs tell operators to fold when
    // batch leaves accrue and to rebuild when -1 fold-files accrue —
    // this is the op that MEASURES both, so the advice is actionable.
    val (base, idx) = buildWithBatches("imstats")
    val bound = Similarity.cellSpreadBound(spark, nlist = 4)
    val s0 = Similarity.ivfIndexLayout(spark, idx)
    assert(s0.cells === 4 && s0.maxBatchId === 2L, s0.toString)
    assert(s0.batchLeaves > 0 && s0.batchFiles > 0, s0.toString)
    assert(s0.maxResidentFilesPerCell <= bound,
      s"build must respect the spread bound: $s0 (bound $bound)")

    Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L)
    val s1 = Similarity.ivfIndexLayout(spark, idx)
    // batches 0..1 folded away (the -1 layer is the fold DESTINATION,
    // never folded itself); only batch 2's leaves remain
    assert(s1.maxBatchId === 2L && s1.batchLeaves < s0.batchLeaves, s1.toString)
    // one fold adds at most one more bound's worth per cell
    assert(s1.maxResidentFilesPerCell <= 2 * bound, s"$s1 (bound $bound)")
    assert(s1.residentFiles >= s0.residentFiles, "fold moves rows INTO -1")

    // a rebuild flattens the accrual back to a single spread bound and
    // leaves no batch leaves at all
    val idx2 = s"$base/idx2"
    Similarity.rebuildIvfIndex(spark, idx, idx2)
    val s2 = Similarity.ivfIndexLayout(spark, idx2)
    assert(s2.batchLeaves === 0 && s2.batchFiles === 0L && s2.maxBatchId === -1L, s2.toString)
    assert(s2.maxResidentFilesPerCell <= bound, s"$s2 (bound $bound)")

    // gated like any reader: crash debris fails with the remedy
    val marker = new java.io.File(s"$idx/corpus/_fold_commit")
    assert(marker.createNewFile())
    IndexMaintenance.readGateWaitMs = 400L
    val e = try intercept[IllegalStateException] { Similarity.ivfIndexLayout(spark, idx) }
    finally IndexMaintenance.readGateWaitMs = 15000L
    assert(e.getMessage.contains("recover"), e.getMessage)
    assert(marker.delete())

    // PQ twin: both tables reported, aligned after a clean build+append
    val pqSrc = {
      val s = spark
      import s.implicits._
      (0 until 120).map(i => (i.toLong, vec(i))).toDF("id", "v")
    }
    val pq = s"$base/pq"
    Pq.writePqIndex(pqSrc, "id", "v", pq, nlist = 4, m = 3, ksub = 8)
    Pq.appendPqIndexIdempotent(pqSrc.limit(10), "id", "v", pq, 0L)
    val (codes, vectors) = Pq.pqIndexLayout(spark, pq)
    assert(codes.batchLeaves === vectors.batchLeaves && codes.maxBatchId === 0L,
      s"$codes vs $vectors")
    assert(codes.cells === 4 && vectors.cells === 4)
  }

  test("probe THROUGH a live fold: a fold completing inside the listing window is detected and retried; answers stay exactly-once") {
    // The r15 review's item #2: retrieval concurrent with maintenance is
    // the 100 TB serving pattern, and the point-in-time gate could let a
    // listing overlap a fold's move+delete window (a folded batch
    // transiently visible TWICE). The afterGateHook seam runs a WHOLE
    // fold between the probe's gate+epoch sample and its file listing —
    // the worst case, no timing luck — and the snapshot check must
    // catch it via the epoch and relist.
    val (_, idx) = buildWithBatches("imthrough")
    val answers = ask(idx)
    IndexMaintenance.listingRetries.set(0)
    @volatile var ran = false
    IndexMaintenance.afterGateHook = Some { () =>
      if (!ran) { ran = true; Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L) }
    }
    val got = try ask(idx) finally IndexMaintenance.afterGateHook = None
    assert(ran, "the fold must have run inside the probe's listing window")
    assert(IndexMaintenance.listingRetries.get() >= 1,
      "the snapshot check must detect the overlapped window and relist")
    assert(got === answers,
      "a probe overlapping a fold must return the exactly-once answer (never a doubled batch)")
    assert(spark.read.parquet(s"$idx/corpus").count() === 90L)
    assert(Similarity.recoverIvfFold(spark, idx).isEmpty)
  }

  test("probe THROUGH a live fold, PQ twin: both tables relist and the ADC answer is exactly-once") {
    val s = spark
    import s.implicits._
    val gen = org.apache.spark.sql.functions.udf(
      (id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
    val df = spark.range(200).select(col("id").as("vec_id"), gen(col("id")).as("e"))
    val base = Files.createTempDirectory("imthrpq").toString
    val idx = s"$base/idx"
    Pq.writePqIndex(df, "vec_id", "e", idx, nlist = 4, m = 4, ksub = 16)
    Pq.appendPqIndexIdempotent(
      spark.range(300, 320).select(col("id").as("vec_id"), gen(col("id")).as("e")),
      "vec_id", "e", idx, 0L)
    val q = df.filter(col("vec_id") < 3)
    def pqAsk() = Pq.pqTopKIndexed(q, "vec_id", "e", idx, k = 3, nprobe = 4, refine = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(x => (x._1, x._4)).toSeq
    val answers = pqAsk()
    IndexMaintenance.listingRetries.set(0)
    @volatile var ran = false
    IndexMaintenance.afterGateHook = Some { () =>
      if (!ran) { ran = true; Pq.compactPqIndex(spark, idx, committedBatchId = 0L) }
    }
    val got = try pqAsk() finally IndexMaintenance.afterGateHook = None
    assert(ran && IndexMaintenance.listingRetries.get() >= 1)
    assert(got === answers)
    for (t <- Seq("codes", "vectors"))
      assert(spark.read.parquet(s"$idx/$t").count() === 220L, t)
  }

  test("maintenance epoch: every completed mutation bumps it, including recovery") {
    val (_, idx) = buildWithBatches("imepoch")
    val table = new org.apache.hadoop.fs.Path(s"$idx/corpus")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(IndexMaintenance.readEpoch(fs, table) === 0L, "pre-epoch index reads as 0")
    Similarity.compactIvfIndex(spark, idx, committedBatchId = 0L)
    assert(IndexMaintenance.readEpoch(fs, table) === 1L)
    // a crashed fold's ROLLBACK also mutated reader-visible files (fold
    // files went in, then came back out) — it must bump too
    IndexMaintenance.failpoint = Some("before-commit")
    try intercept[RuntimeException] {
      Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L)
    } finally IndexMaintenance.failpoint = None
    assert(Similarity.recoverIvfFold(spark, idx).exists(_.contains("BACK")))
    assert(IndexMaintenance.readEpoch(fs, table) === 2L)
    // roll-forward path bumps as well
    IndexMaintenance.failpoint = Some("before-cleanup")
    try intercept[RuntimeException] {
      Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L)
    } finally IndexMaintenance.failpoint = None
    assert(Similarity.recoverIvfFold(spark, idx).exists(_.contains("FORWARD")))
    assert(IndexMaintenance.readEpoch(fs, table) === 3L)
  }

  test("shouldRetrain surfaces an empty batch as a real error, not an NPE") {
    val (_, idx) = buildWithBatches("imempty")
    val empty = mkCorpus(0 until 10).filter(col("id") < 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.shouldRetrain(empty, "id", "v", idx)
    }
    assert(e.getMessage.contains("empty batch"), e.getMessage)
  }

  test("a FileNotFound thrown DURING an overlapped listing retries; one with no overlap propagates") {
    // A fold can delete a leaf while `list` itself is walking the table —
    // the same race the epoch check catches, surfacing as an exception
    // instead of a stale file set. The retry loop must treat both shapes
    // alike: overlapped window → relist; no overlap → a genuinely
    // missing file, propagate.
    val (_, idx) = buildWithBatches("imfnf")
    val table = new org.apache.hadoop.fs.Path(s"$idx/corpus")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexMaintenance.listingRetries.set(0)
    @volatile var ran = false
    IndexMaintenance.afterGateHook = Some { () =>
      if (!ran) { ran = true; Similarity.compactIvfIndex(spark, idx, committedBatchId = 0L) }
    }
    var calls = 0
    val got = try IndexMaintenance.consistentListing(fs, table) {
      calls += 1
      if (calls == 1) throw new java.io.FileNotFoundException("leaf deleted mid-listing")
      42
    } finally IndexMaintenance.afterGateHook = None
    assert(ran && got === 42 && calls === 2)
    assert(IndexMaintenance.listingRetries.get() >= 1)
    // no maintenance window → the miss is real and must surface
    intercept[java.io.FileNotFoundException] {
      IndexMaintenance.consistentListing(fs, table) {
        throw new java.io.FileNotFoundException("genuinely absent")
      }
    }
    // above the parallel-discovery threshold Spark lists via a job and
    // the FNF arrives WRAPPED — the cause chain must count too
    IndexMaintenance.listingRetries.set(0)
    @volatile var ran2 = false
    IndexMaintenance.afterGateHook = Some { () =>
      if (!ran2) { ran2 = true; Similarity.compactIvfIndex(spark, idx, committedBatchId = 1L) }
    }
    var calls2 = 0
    val got2 = try IndexMaintenance.consistentListing(fs, table) {
      calls2 += 1
      if (calls2 == 1) throw new org.apache.spark.SparkException("Job aborted",
        new RuntimeException(new java.io.FileNotFoundException("leaf vanished")))
      7
    } finally IndexMaintenance.afterGateHook = None
    assert(ran2 && got2 === 7 && IndexMaintenance.listingRetries.get() >= 1)
  }

  test("tombstonesUnfolded on a missing table dir is a clean false, not FileNotFoundException (r19)") {
    val s = spark
    import s.implicits._
    val gone = java.nio.file.Files.createTempDirectory("tsu").toString + "/never-written"
    assert(!IndexMaintenance.tombstonesUnfolded(spark, gone,
      Seq(1L, 2L).toDF("id"), "corpus_id"),
      "a table dir that does not exist has no unfolded lanes")
  }

  test("readDeletes fails loudly past the driver-rows cap, unchanged below it (r20)") {
    val s = spark
    import s.implicits._
    val idx = Files.createTempDirectory("ledgercap").toString + "/idx"
    (0L until 20L).map(i => (i, 10)).toDF("id", "dl")
      .coalesce(1).write.parquet(IndexMaintenance.deletesDir(idx))
    val key = "spark.graft.ledger.maxDriverRows"
    // below the cap: identical behavior — the full deduped ledger arrives
    spark.conf.set(key, "20")
    try {
      val ok = IndexMaintenance.readDeletes(spark, idx)
      assert(ok.map(_.count()) === Some(20L))
      // over the cap: a loud, actionable refusal — not a driver OOM
      spark.conf.set(key, "19")
      val e = intercept[IllegalStateException] {
        IndexMaintenance.readDeletes(spark, idx)
      }
      assert(e.getMessage.contains("exceeds 19 distinct rows"))
      assert(e.getMessage.contains("spark.graft.ledger.maxDriverRows"))
    } finally spark.conf.unset(key)
  }
}
