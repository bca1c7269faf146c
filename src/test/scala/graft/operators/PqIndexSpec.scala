package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The materialize-once IVFPQ path: build → reload → probe equals the
  * direct in-session ivfPqTopK (training is deterministic, so the
  * stored model is bit-identical to a fresh one), appends are findable,
  * and BOTH index scans (hot codes + cold vectors) prune to the probed
  * cells' partitions. */
class PqIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pq-index-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def synth(n: Int, dim: Int) = {
    val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, dim, 4, 0.3))
    spark.range(n).select(col("id").as("vec_id"), gen(col("id")).as("e"))
  }

  test("stored index returns exactly the direct ivfPqTopK results") {
    val df = synth(200, 16)
    val q = df.filter(col("vec_id") < 5)
    val path = Files.createTempDirectory("pqidx").toString
    Pq.writePqIndex(df, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    val indexed = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    val direct = Pq.ivfPqTopK(q, "vec_id", "e", df, "vec_id", "e",
      k = 3, nlist = 4, nprobe = 4, m = 4, ksub = 16, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    assert(indexed.toSeq === direct.toSeq)
  }

  test("both index scans prune to the probed cells' partitions") {
    val df = synth(200, 16)
    val q = df.filter(col("vec_id") < 2)
    val path = Files.createTempDirectory("pqidx").toString
    Pq.writePqIndex(df, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    val pruned = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 1, refine = 4)
    assert(pruned.count() > 0)
    val plan = pruned.queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    val codesScan = scans.find(_.contains("codes"))
    val vecScan = scans.find(_.contains("vectors"))
    assert(codesScan.isDefined && vecScan.isDefined,
      s"expected codes + vectors scans in:\n$plan")
    Seq(codesScan.get, vecScan.get).foreach { line =>
      assert(line.matches(".*PartitionFilters: \\[.*cell.*"),
        s"expected a cell partition filter on:\n$line")
    }
  }

  test("appended vectors are findable; full probe + deep refine == brute force over the union") {
    val base = synth(120, 16)
    val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
    val extra = spark.range(120, 160)
      .select(col("id").as("vec_id"), gen(col("id")).as("e"))
    val path = Files.createTempDirectory("pqidx").toString
    Pq.writePqIndex(base, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    Pq.appendPqIndex(extra, "vec_id", "e", path)
    val all = base.union(extra)
    val q = all.filter(col("vec_id").isin(0L, 150L))
    val got = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4, refine = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    val want = Similarity.bruteForceTopK(q, "vec_id", "e", all, "vec_id", "e", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    assert(got.toSeq === want.toSeq,
      "full probe + shortlist covering the corpus must equal brute force")
  }

  test("drift lifecycle: appends degrade the monitor until it fires; retrain recovers recall") {
    // The operational story indexDriftStats promises, exercised end to
    // end: build -> ingest drifted batches (no retrain) -> the monitor
    // crosses its threshold -> retrain on the resident corpus -> the
    // retrained index beats the stale one on the drifted queries.
    val base = synth(300, 16)
    val path = Files.createTempDirectory("pqidx-stale").toString
    Pq.writePqIndex(base, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    // build-time reference row — the scaladoc's "compare against the
    // build-time batch's row" contract
    val r0 = Pq.indexDriftStats(base, "vec_id", "e", path).collect()(0)
    val (fit0, err0) = (r0.getDouble(1), r0.getDouble(2))
    val genShift = udf((id: Long) =>
      graft.tools.EmbedSynth.vector(id + 1000000, 16, 11, 2.5))
    def batch(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id").as("vec_id"), genShift(col("id")).as("e"))
    var ingested = base
    var fired = false
    for (b <- Seq(batch(1000, 1100), batch(1100, 1200), batch(1200, 1300))
         if !fired) {
      val r = Pq.indexDriftStats(b, "vec_id", "e", path).collect()(0)
      Pq.appendPqIndex(b, "vec_id", "e", path)
      ingested = ingested.union(b)
      // the retrain rule: coarse fit collapsed or PQ error doubled vs
      // the build-time reference
      fired = r.getDouble(1) < fit0 - 0.1 || r.getDouble(2) > err0 * 2
    }
    assert(fired, "drift trigger never fired on an out-of-distribution ingest")
    val retrainedPath = Files.createTempDirectory("pqidx-retrained").toString
    Pq.writePqIndex(ingested, "vec_id", "e", retrainedPath, nlist = 4, m = 4, ksub = 16)
    // drifted queries; full probe on both indexes so the contrast is
    // purely model quality (stale codebooks mis-rank the shortlist)
    val q = ingested.filter(col("vec_id") >= 1000L && col("vec_id") < 1020L)
    val truth = Similarity.bruteForceTopK(q, "vec_id", "e", ingested, "vec_id", "e", k = 5)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(p: String): Double = {
      val got = Pq.pqTopKIndexed(q, "vec_id", "e", p, k = 5, nprobe = 4, refine = 2)
        .select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val stale = recallOf(path)
    val fresh = recallOf(retrainedPath)
    assert(fresh > stale,
      f"retrain must recover recall on drifted queries: stale $stale%.3f vs retrained $fresh%.3f")
    // and the retrained model reads the NEXT drifted batch better than
    // the stale one does — the monitor's job after a retrain. (Absolute
    // fit stays below the clean-corpus baseline: a noisier distribution
    // has intrinsically lower fit, so the operational rule is to
    // re-baseline the reference row after every retrain.)
    val next = batch(1300, 1400)
    val rs = Pq.indexDriftStats(next, "vec_id", "e", path).collect()(0)
    val rf = Pq.indexDriftStats(next, "vec_id", "e", retrainedPath).collect()(0)
    assert(rf.getDouble(1) > rs.getDouble(1) && rf.getDouble(2) < rs.getDouble(2),
      f"retrained model must fit the drifted distribution better: " +
        f"fit ${rs.getDouble(1)}%.3f->${rf.getDouble(1)}%.3f, " +
        f"err ${rs.getDouble(2)}%.3f->${rf.getDouble(2)}%.3f")
  }

  test("drift monitor: in-distribution batch fits; shifted batch degrades both stats") {
    val base = synth(200, 16)
    val path = Files.createTempDirectory("pqidx").toString
    Pq.writePqIndex(base, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    def statsOf(df: org.apache.spark.sql.DataFrame): (Long, Double, Double) = {
      val r = Pq.indexDriftStats(df, "vec_id", "e", path).collect()(0)
      (r.getLong(0), r.getDouble(1), r.getDouble(2))
    }
    // same distribution: later ids from the same generator
    val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
    val inDist = spark.range(200, 300).select(col("id").as("vec_id"), gen(col("id")).as("e"))
    // drifted: a different cluster layout the quantizer never saw
    val genShift = udf((id: Long) => graft.tools.EmbedSynth.vector(id + 1000000, 16, 11, 2.5))
    val shifted = spark.range(200, 300).select(col("id").as("vec_id"), genShift(col("id")).as("e"))
    val (n1, fit1, err1) = statsOf(inDist)
    val (n2, fit2, err2) = statsOf(shifted)
    assert(n1 === 100L && n2 === 100L)
    assert(fit1 > fit2 + 0.05, f"coarse fit must degrade under drift: $fit1%.4f vs $fit2%.4f")
    assert(err2 > err1 + 0.05, f"pq error must rise under drift: $err1%.4f vs $err2%.4f")
  }

  test("shortlist saturation: ADC stage is skipped, results are identical") {
    val df = synth(200, 16)
    val q = df.filter(col("vec_id") < 5)
    val path = Files.createTempDirectory("pqidx").toString
    Pq.writePqIndex(df, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    // budget 3*30000 clears SaturationCheckFloor (1<<16) and covers the
    // 200-row corpus -> the saturated plan must not contain the ADC
    // rank; budget 3*100=300 also covers 200 candidates but sits under
    // the floor -> the ADC path runs. Both regimes are exhaustive, so
    // their exact-re-ranked answers must match row for row.
    assert(3L * 30000 >= Pq.SaturationCheckFloor && 3L * 100 < Pq.SaturationCheckFloor)
    val sat = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4, refine = 30000)
    val adc = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4, refine = 100)
    assert(!sat.queryExecution.executedPlan.toString.contains("adc_score"),
      "saturated budget must skip the ADC stage")
    assert(adc.queryExecution.executedPlan.toString.contains("adc_score"),
      "sub-floor budget must keep the ADC stage")
    val a = sat.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    val b = adc.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("index writes are cell-aligned: bounded files per cell, not tasks x nlist") {
    // Without the pre-write exchange every input task opens a file in
    // every cell directory and the write goes file-count-bound — at the
    // 20 M rung appending 2 M rows cost the same 134 s as building 18 M
    // (SCALE.md r14: fix measured 7.2x on append). The fan-out within a
    // cell is cellSpreadBound, not exactly 1: one-file-per-cell capped
    // full-probe scan parallelism at nlist when nlist < cores (measured
    // 48 -> 154 s at the 2 M batch lab). Pin the shape: a build from an
    // 8-partition input stays within the bound per cell in BOTH tables,
    // and an append adds at most one more bound's worth.
    // two-level cell=/ingest_batch= layout (r15): count data files per
    // CELL across its batch leaves
    def filesPerCell(root: String): Seq[Int] = {
      val d = new java.io.File(root)
      d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(_.listFiles().filter(_.isDirectory)
          .map(_.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))).sum)
        .toSeq
    }
    def batchKeys(root: String): Set[Long] =
      new java.io.File(root).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .flatMap(_.listFiles().filter(_.isDirectory)
          .map(_.getName.stripPrefix("ingest_batch=").toLong)).toSet
    val bound = Similarity.cellSpreadBound(spark, nlist = 4)
    assert(bound >= 1 && bound <= 8, s"local[4]/nlist 4 bound: $bound")
    val df = synth(400, 16).repartition(8)
    val path = Files.createTempDirectory("pqalign").toString
    Pq.writePqIndex(df, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    assert(filesPerCell(s"$path/codes").forall(_ <= bound),
      s"codes files per cell (bound $bound): ${filesPerCell(s"$path/codes")}")
    assert(filesPerCell(s"$path/vectors").forall(_ <= bound),
      s"vectors files per cell (bound $bound): ${filesPerCell(s"$path/vectors")}")
    Pq.appendPqIndex(synth(500, 16).filter(col("vec_id") >= 400).repartition(8),
      "vec_id", "e", path)
    assert(filesPerCell(s"$path/codes").forall(_ <= 2 * bound),
      s"append must stay within one more bound: ${filesPerCell(s"$path/codes")}")
    assert(spark.read.parquet(s"$path/codes").count() === 500L)

    // incremental compaction over a batch-keyed ingest: build + three
    // idempotent appends, fold the committed ones — batch leaves fold
    // into -1 (which gains at most one more bound's worth of files, its
    // resident files untouched — IndexMaintenanceSpec pins that part),
    // answers unchanged, replay of the uncommitted batch still converges
    val p2 = Files.createTempDirectory("pqfold").toString
    Pq.writePqIndex(df, "vec_id", "e", p2, nlist = 4, m = 4, ksub = 16)
    def keyed(lo: Int, hi: Int) = synth(hi, 16).filter(col("vec_id") >= lo).repartition(4)
    Pq.appendPqIndexIdempotent(keyed(400, 440), "vec_id", "e", p2, batchId = 0L)
    Pq.appendPqIndexIdempotent(keyed(440, 480), "vec_id", "e", p2, batchId = 1L)
    Pq.appendPqIndexIdempotent(keyed(480, 520), "vec_id", "e", p2, batchId = 2L)
    val q = synth(520, 16).filter(col("vec_id") < 5)
    def ask() = Pq.pqTopKIndexed(q, "vec_id", "e", p2, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(x => (x._1, x._4)).toSeq
    val before = ask()
    Pq.compactPqIndex(spark, p2, committedBatchId = 1L)
    for (t <- Seq("codes", "vectors")) {
      assert(batchKeys(s"$p2/$t") === Set(-1L, 2L),
        s"$t: fold must keep only -1 and the uncommitted batch 2: ${batchKeys(s"$p2/$t")}")
      assert(filesPerCell(s"$p2/$t").forall(_ <= 3 * bound),
        s"$t files per cell after fold (build + fold + batch 2): ${filesPerCell(s"$p2/$t")}")
    }
    assert(spark.read.parquet(s"$p2/codes").count() === 520L)
    assert(ask() === before, "compaction must not change answers")
    // the uncommitted batch can still replay exactly-once after the fold
    Pq.appendPqIndexIdempotent(keyed(480, 520), "vec_id", "e", p2, batchId = 2L)
    assert(spark.read.parquet(s"$p2/codes").count() === 520L,
      "replaying the uncommitted batch after compaction double-ingested")
    assert(ask() === before)

    // the IVF twin (nested cell=/ingest_batch= layout)
    val ivfPath = Files.createTempDirectory("ivfalign").toString
    Similarity.writeIvfIndex(df, "vec_id", "e", ivfPath, nlist = 4)
    val perCell = new java.io.File(s"$ivfPath/corpus").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(_.listFiles().filter(_.isDirectory).map(
        _.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))).sum)
      .toSeq
    assert(perCell.forall(_ <= bound), s"ivf corpus files per cell (bound $bound): $perCell")
  }

  test("shouldRetrain: in-distribution batch holds, drifted batch trips the trigger") {
    val df = synth(400, 16)
    val path = Files.createTempDirectory("pqdrift").toString
    Pq.writePqIndex(df, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    // build persisted a reference row measured on the training sample
    val ref = spark.read.parquet(s"$path/model/drift_ref").collect()(0)
    assert(ref.getLong(0) === 400L)

    // a fresh batch from the SAME generator: quantization health matches
    // the reference, no retrain
    val inDist = synth(500, 16).filter(col("vec_id") >= 400)
    val (r1, fit1, err1, refFit, refErr) =
      Pq.shouldRetrain(inDist, "vec_id", "e", path)
    assert(!r1, f"in-distribution batch tripped retrain: fit=$fit1%.4f/" +
      f"ref=$refFit%.4f err=$err1%.4f/ref=$refErr%.4f")

    // spectral concentration (the SCALE.md Round-14 20 M rung's drift construction):
    // out-of-range subvectors must push pq_err past the tolerance
    val drifted = inDist.withColumn("e",
      expr("transform(e, (x, i) -> IF(i < 2, x * 6.0D, x * 0.25D))"))
    val (r2, fit2, err2, _, _) = Pq.shouldRetrain(drifted, "vec_id", "e", path)
    assert(r2, f"drifted batch must trip retrain: fit=$fit2%.4f err=$err2%.4f ref=$refErr%.4f")

    // pre-r14 index (no reference row) fails with the remedy, not NPE
    val fs = new java.io.File(s"$path/model/drift_ref")
    fs.listFiles().foreach(_.delete()); fs.delete()
    val e = intercept[IllegalArgumentException] {
      Pq.shouldRetrain(inDist, "vec_id", "e", path)
    }
    assert(e.getMessage.contains("drift reference"), e.getMessage)
  }

  test("manual PQ append: a crash between the two table writes heals on retry; a different batch deletes the half-landed lane") {
    // r17 manual-lane shape over TWO tables: codes then vectors via
    // dynamic overwrite, watermark last. A codes-only lane is a batch
    // that never landed — a retry of the SAME batch reuses the lane and
    // writes the missing vectors; a DIFFERENT batch deletes it (its
    // call never returned success, nothing confirmed is lost).
    def batch(lo: Long, hi: Long) = {
      val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
      spark.range(lo, hi).select(col("id").as("vec_id"), gen(col("id")).as("e"))
    }
    val path = Files.createTempDirectory("pqmanual").toString
    Pq.writePqIndex(batch(0, 120), "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    val codesT = new org.apache.hadoop.fs.Path(s"$path/codes")
    val vecsT = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val fs = codesT.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val floor = IndexMaintenance.ManualLaneFloor
    def counts() = (spark.read.parquet(s"$path/codes").count(),
      spark.read.parquet(s"$path/vectors").count())

    Pq.appendPqIndex(batch(120, 140), "vec_id", "e", path) // lane = floor
    // reconstruct a crash between the codes and vectors writes of the
    // NEXT batch: full append, then drop its vectors lane + rewind
    Pq.appendPqIndex(batch(140, 160), "vec_id", "e", path) // lane = floor+1
    IndexMaintenance.deleteLane(fs, vecsT, floor + 1)
    IndexMaintenance.writeManualWatermark(fs, codesT, floor)
    assert(counts() === ((160L, 140L)), "crash state: codes-only lane")
    // retry of the SAME batch reuses the lane and writes the missing half
    Pq.appendPqIndex(batch(140, 160), "vec_id", "e", path)
    assert(counts() === ((160L, 160L)), "retry must heal both tables exactly-once")

    // crash again on a new batch, then a DIFFERENT batch arrives
    Pq.appendPqIndex(batch(160, 180), "vec_id", "e", path) // lane = floor+2
    IndexMaintenance.deleteLane(fs, vecsT, floor + 2)
    IndexMaintenance.writeManualWatermark(fs, codesT, floor + 1)
    Pq.appendPqIndex(batch(200, 220), "vec_id", "e", path)
    // the half-landed 160..180 lane is gone from BOTH tables; the new
    // batch landed whole — tables agree and the rebuild gate stays open
    assert(counts() === ((180L, 180L)),
      "a different batch must delete the half-landed lane, not collide with it")
    val all = batch(0, 160).union(batch(200, 220))
    val q = all.filter(col("vec_id").isin(0L, 210L))
    val got = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4, refine = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    val want = Similarity.bruteForceTopK(q, "vec_id", "e", all, "vec_id", "e", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    assert(got.toSeq === want.toSeq)
    // ... and the dropped batch retried later lands whole in a fresh lane
    Pq.appendPqIndex(batch(160, 180), "vec_id", "e", path)
    assert(counts() === ((200L, 200L)))
    val (codes, vectors) = Pq.pqIndexLayout(spark, path)
    assert(codes.batchLeaves === vectors.batchLeaves && codes.maxBatchId === vectors.maxBatchId)

    // recoverPqFold resolves BOTH orphan shapes at once: a fully-landed
    // lane is adopted (no-retry remedy), a half-landed one is deleted
    // (retry remedy) — and a later retry of the deleted batch lands whole
    Pq.appendPqIndex(batch(220, 230), "vec_id", "e", path) // complete
    Pq.appendPqIndex(batch(230, 240), "vec_id", "e", path)
    val lanes = IndexMaintenance.manualLanes(fs, codesT, floor - 1).sorted
    IndexMaintenance.deleteLane(fs, vecsT, lanes.last) // half-land the newest
    IndexMaintenance.writeManualWatermark(fs, codesT, lanes(lanes.size - 3))
    val healed = Pq.recoverPqFold(spark, path)
    assert(healed.exists(m => m.contains("adopted") && m.contains("deleted")), s"got $healed")
    assert(counts() === ((210L, 210L)), "adopt the whole lane, delete the half one")
    assert(Pq.recoverPqFold(spark, path).isEmpty, "recovery is idempotent")
    Pq.appendPqIndex(batch(230, 240), "vec_id", "e", path) // the retry remedy
    assert(counts() === ((220L, 220L)))
  }

  test("two crashed PQ appends, then a retry of either: own lane found; half-landed lanes below the match are deleted (r18)") {
    // r17 matched fingerprints only with exactly ONE orphan; two crashed
    // appends then a retry adopted both and landed the retried batch
    // twice. Every orphan is fingerprinted now, and half-landed lanes
    // BELOW the reused lane are deleted (the final watermark advance
    // would otherwise commit them with one table missing).
    def batch(lo: Long, hi: Long) = {
      val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
      spark.range(lo, hi).select(col("id").as("vec_id"), gen(col("id")).as("e"))
    }
    val path = Files.createTempDirectory("pqmulti").toString
    Pq.writePqIndex(batch(0, 120), "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    val codesT = new org.apache.hadoop.fs.Path(s"$path/codes")
    val vecsT = new org.apache.hadoop.fs.Path(s"$path/vectors")
    val fs = codesT.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val floor = IndexMaintenance.ManualLaneFloor
    def counts() = (spark.read.parquet(s"$path/codes").count(),
      spark.read.parquet(s"$path/vectors").count())
    Pq.appendPqIndex(batch(120, 140), "vec_id", "e", path) // lane = floor
    Pq.appendPqIndex(batch(140, 160), "vec_id", "e", path) // lane = floor+1
    // both crashed before their watermark publish; the FIRST also
    // crashed between its two table writes (codes-only half lane)
    IndexMaintenance.deleteLane(fs, vecsT, floor)
    IndexMaintenance.writeManualWatermark(fs, codesT, floor - 1)
    assert(counts() === ((160L, 140L)))
    // retry of the SECOND batch: must reuse lane floor+1 (not land it
    // again under floor+2) and delete the half lane floor below it
    Pq.appendPqIndex(batch(140, 160), "vec_id", "e", path)
    assert(counts() === ((140L, 140L)),
      "reuse the matched lane; delete the half-landed lane below it")
    assert(IndexMaintenance.readManualWatermark(fs, codesT) === floor + 1)
    val (codesL, vecsL) = Pq.pqIndexLayout(spark, path)
    assert(codesL.maxBatchId === floor + 1 && vecsL.maxBatchId === floor + 1,
      "no fresh lane above the reused one")
    // the deleted first batch retried later lands whole in a fresh lane
    Pq.appendPqIndex(batch(120, 140), "vec_id", "e", path)
    assert(counts() === ((160L, 160L)))
    val all = batch(0, 160)
    val q = all.filter(col("vec_id").isin(0L, 130L, 150L))
    val got = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4, refine = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    val want = Similarity.bruteForceTopK(q, "vec_id", "e", all, "vec_id", "e", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
    assert(got.toSeq === want.toSeq)
  }

  test("streamed PQ lane vs deletion: a committed replay passes the tombstone guard; a fresh batch re-adding the id refuses (r18)") {
    def batch(lo: Long, hi: Long) = {
      val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
      spark.range(lo, hi).select(col("id").as("vec_id"), gen(col("id")).as("e"))
    }
    val path = Files.createTempDirectory("pqreplaydel").toString
    Pq.writePqIndex(batch(0, 120), "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    Pq.appendPqIndexIdempotent(batch(120, 140), "vec_id", "e", path, batchId = 0L)
    val s = spark
    import s.implicits._
    Pq.deleteFromPqIndex(Seq(125L).toDF("id"), path)
    // write committed, checkpoint didn't -> re-delivery must pass (the
    // ledger hides the rows in both probe stages), not wedge the stream
    Pq.appendPqIndexIdempotent(batch(120, 140), "vec_id", "e", path, batchId = 0L)
    assert(spark.read.parquet(s"$path/codes").count() === 140L)
    assert(spark.read.parquet(s"$path/vectors").count() === 140L)
    val got = Pq.pqTopKIndexed(batch(125, 126), "vec_id", "e", path,
      k = 5, nprobe = 4, refine = 64)
    assert(!got.collect().exists(_.getLong(1) == 125L), "deleted id must stay hidden")
    // a genuinely FRESH batch re-appending the deleted id still refuses
    val fresh = intercept[IllegalArgumentException] {
      Pq.appendPqIndexIdempotent(batch(125, 126), "vec_id", "e", path, batchId = 1L)
    }
    assert(fresh.getMessage.contains("tombstone"), fresh.getMessage)
    val manual = intercept[IllegalArgumentException] {
      Pq.appendPqIndex(batch(125, 126), "vec_id", "e", path)
    }
    assert(manual.getMessage.contains("tombstone"), manual.getMessage)
  }

  test("filtered PQ search: predicate in both stages, exact at full probe, survives append/fold, composes with deletion (r18)") {
    def batch(lo: Long, hi: Long) = {
      val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
      spark.range(lo, hi).select(col("id").as("vec_id"), gen(col("id")).as("e"),
        pmod(col("id"), lit(3)).cast("int").as("category"))
    }
    val path = Files.createTempDirectory("pqfilter").toString
    Pq.writePqIndex(batch(0, 120), "vec_id", "e", path, nlist = 4, m = 4,
      ksub = 16, metaCols = Seq("category"))
    Pq.appendPqIndex(batch(120, 150), "vec_id", "e", path,
      metaCols = Seq("category"))
    Pq.appendPqIndexIdempotent(batch(150, 180), "vec_id", "e", path,
      batchId = 0L, metaCols = Seq("category"))
    val all = batch(0, 180)
    val q = all.filter(col("vec_id") < 4).select("vec_id", "e")
    def probe() = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4,
        refine = 80, filter = Some(col("category") === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    def want(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(q, "vec_id", "e", corpus, "vec_id", "e", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(probe() === want(all.filter(col("category") === 1)),
      "full probe + covering refine + predicate == brute force over the filtered corpus")
    // metadata survives the two-table fold
    Pq.compactPqIndex(spark, path, committedBatchId = 0L)
    assert(probe() === want(all.filter(col("category") === 1)))
    // composes with deletion across both stages
    val s = spark
    import s.implicits._
    Pq.deleteFromPqIndex(Seq(1L, 7L, 13L, 19L).toDF("id"), path)
    val live = all.filter(col("category") === 1 && !col("vec_id").isin(1L, 7L, 13L, 19L))
    assert(probe() === want(live))
    // the saturation path (budget covers the pruned cells) filters too:
    // refine = 80 -> k*refine = 240 >= 180 rows, so with a tiny
    // SaturationCheckFloor this same call would take the skip — instead
    // pin it explicitly through the no-ADC regime by deep refine
    val deep = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4,
        refine = 1000, filter = Some(col("category") === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(deep === want(live))
  }

  test("tombstoned deletes: both PQ stages skip deleted vectors; purge rewrites both tables") {
    def batch(lo: Long, hi: Long) = {
      val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
      spark.range(lo, hi).select(col("id").as("vec_id"), gen(col("id")).as("e"))
    }
    val path = Files.createTempDirectory("pqdel").toString
    val all = batch(0, 200)
    Pq.writePqIndex(all, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    val live = all.filter(pmod(col("vec_id"), lit(9)) =!= 4)
    Pq.deleteFromPqIndex(
      all.filter(pmod(col("vec_id"), lit(9)) === 4).select(col("vec_id").as("id")), path)
    val q = all.filter(col("vec_id") < 4)
    def probe() = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4, refine = 80)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    val want = Similarity.bruteForceTopK(q, "vec_id", "e", live, "vec_id", "e", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(probe() === want, "deleted vectors must vanish from ADC + re-rank immediately")
    // re-appending a deleted id is refused (the ledger would hide it)
    val eRe = intercept[IllegalArgumentException] {
      Pq.appendPqIndex(batch(4, 5), "vec_id", "e", path) // vec_id 4 is tombstoned
    }
    assert(eRe.getMessage.contains("tombstone"), eRe.getMessage)
    val (c, v) = Pq.purgePqDeletes(spark, path)
    assert(c > 0 && v > 0)
    val nLive = live.count()
    assert(spark.read.parquet(s"$path/codes").count() === nLive)
    assert(spark.read.parquet(s"$path/vectors").count() === nLive)
    assert(!new java.io.File(s"$path/deletes").exists())
    assert(probe() === want, "purge must change nothing about answers")
  }

  test("backfillMetaCols rewrites BOTH tables from one join; a crash between them resumes to completion (r19)") {
    val s = spark
    import s.implicits._
    def batch(lo: Long, hi: Long) = {
      val gen = udf((id: Long) => graft.tools.EmbedSynth.vector(id, 16, 4, 0.3))
      spark.range(lo, hi).select(col("id").as("vec_id"), gen(col("id")).as("e"))
    }
    val path = Files.createTempDirectory("pqbackfill").toString
    // meta-less build + lane + tombstone: the pre-r18 shape
    Pq.writePqIndex(batch(0, 120), "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    Pq.appendPqIndexIdempotent(batch(120, 150), "vec_id", "e", path, batchId = 0L)
    Pq.deleteFromPqIndex(Seq(9L, 33L).toDF("id"), path)
    val meta = spark.range(150).filter(!col("id").isin(9L, 33L))
      .select(col("id").as("vec_id"), pmod(col("id"), lit(3)).cast("int").as("category"))
    assert(Pq.backfillMetaCols(spark, path, meta, idCol = "vec_id",
      metaCols = Seq("category")))
    val all = batch(0, 150).withColumn("category", pmod(col("vec_id"), lit(3)).cast("int"))
    val live = all.filter(col("category") === 1 && !col("vec_id").isin(9L, 33L))
    val q = all.filter(col("vec_id") < 4).select("vec_id", "e")
    def probe() = Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 4,
        refine = 60, filter = Some(col("category") === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    def want(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(q, "vec_id", "e", corpus, "vec_id", "e", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(probe() === want(live),
      "backfilled PQ index must answer exactly like one built with the metadata")
    // both tables really carry the column (codes for the ADC stage,
    // vectors for the saturation path)
    assert(spark.read.parquet(s"$path/codes").columns.contains("category"))
    assert(spark.read.parquet(s"$path/vectors").columns.contains("category"))
    // resumability: a second index crashes AFTER the codes rewrite —
    // simulated by backfilling codes alone — and the family call then
    // completes only the missing table
    val path2 = Files.createTempDirectory("pqbackfill2").toString
    Pq.writePqIndex(batch(0, 120), "vec_id", "e", path2, nlist = 4, m = 4, ksub = 16)
    val m2 = spark.range(120)
      .select(col("id").as("corpus_id"), pmod(col("id"), lit(3)).cast("int").as("category"))
    assert(IndexMaintenance.backfillTableMetaCols(spark, path2, "codes",
      m2, "corpus_id", Seq("category")))
    assert(!spark.read.parquet(s"$path2/vectors").columns.contains("category"))
    // the rerun: codes untouched (already carries the column), vectors
    // completed, contract file written — filtered probes exact
    assert(Pq.backfillMetaCols(spark, path2,
      m2.withColumnRenamed("corpus_id", "vec_id"), idCol = "vec_id",
      metaCols = Seq("category")))
    val all2 = batch(0, 120).withColumn("category", pmod(col("vec_id"), lit(3)).cast("int"))
    val q2 = all2.filter(col("vec_id") < 4).select("vec_id", "e")
    val got2 = Pq.pqTopKIndexed(q2, "vec_id", "e", path2, k = 3, nprobe = 4,
        refine = 60, filter = Some(col("category") === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    val want2 = Similarity.bruteForceTopK(q2, "vec_id", "e",
        all2.filter(col("category") === 1), "vec_id", "e", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(got2 === want2, "resumed backfill must complete the second table")
    // the contract now governs appends on the upgraded index
    val mm = intercept[IllegalArgumentException] {
      Pq.appendPqIndex(batch(120, 130), "vec_id", "e", path2)
    }
    assert(mm.getMessage.contains("metaCols"), mm.getMessage)
    // meta DERIVED from the index's own tables — the natural id-keyed
    // provenance: without the staging write, the codes swap would
    // invalidate the meta plan's captured file listing and the vectors
    // rewrite would die on FileNotFound (observed at the 20 M rung)
    val path3 = Files.createTempDirectory("pqbackfill3").toString
    Pq.writePqIndex(batch(0, 120), "vec_id", "e", path3, nlist = 4, m = 4, ksub = 16)
    val selfMeta = spark.read.parquet(s"$path3/codes")
      .select(col("corpus_id").as("vec_id")).distinct()
      .withColumn("category", pmod(col("vec_id"), lit(3)).cast("int"))
    assert(Pq.backfillMetaCols(spark, path3, selfMeta, idCol = "vec_id",
      metaCols = Seq("category")))
    assert(!new java.io.File(s"$path3/_backfill_meta").exists(),
      "the staging copy must be cleaned up")
    val got3 = Pq.pqTopKIndexed(q2, "vec_id", "e", path3, k = 3, nprobe = 4,
        refine = 60, filter = Some(col("category") === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted.toSeq
    assert(got3 === want2, "self-derived meta must backfill both tables")
  }

  test("minCandidates auto-widens the PQ probe under a selective filter (r19)") {
    val s = spark
    import s.implicits._
    val df = synth(200, 16)
    val path = Files.createTempDirectory("pqwiden").toString
    Pq.writePqIndex(df, "vec_id", "e", path, nlist = 4, m = 4, ksub = 16)
    // deterministic thin-shortlist scenario, the IVF spec's shape: the
    // rare category lives in exactly one stored cell; the query sits at
    // a different cell's centroid
    val byCell = spark.read.parquet(s"$path/codes").select("corpus_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val c0 = byCell.map(_._2).groupBy(identity).view.mapValues(_.length)
      .toSeq.maxBy(_._2)._1
    val rare = byCell.filter(_._2 == c0).map(_._1).toSet
    assert(Pq.backfillMetaCols(spark, path,
      df.select(col("vec_id"),
        when(col("vec_id").isin(rare.toSeq: _*), 1).otherwise(0).cast("int").as("category")),
      idCol = "vec_id", metaCols = Seq("category")))
    val cents = spark.read.parquet(s"$path/model/centroids")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    val c1 = (0 until cents.length).find(_ != c0).get
    val q = Seq((999L, cents(c1).toSeq)).toDF("vec_id", "e")
    def probe(minCand: Int) =
      Pq.pqTopKIndexed(q, "vec_id", "e", path, k = 3, nprobe = 1, refine = 100,
          filter = Some(col("category") === 1), minCandidates = minCand)
        .collect().map(r => (r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(probe(0) === Seq.empty,
      s"nprobe=1 from cell $c1's centroid must see no category-1 (cell $c0) rows")
    val want = Similarity.bruteForceTopK(q, "vec_id", "e",
        df.filter(col("vec_id").isin(rare.toSeq: _*)), "vec_id", "e", k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(probe(3) === want,
      "minCandidates must widen the PQ probe until the filtered corpus is reachable")
  }
}
