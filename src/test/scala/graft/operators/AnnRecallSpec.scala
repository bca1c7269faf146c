package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Recall floors for the approximate ANN paths, pinned against the exact
  * brute-force baseline on the driver-generated embeddings fixture.
  *
  * Every input here is deterministic (seeded hyperplanes, sampled k-means,
  * fixed fixture), so recall is a reproducible constant — the floors sit a
  * few points under the measured values (SCALE.md "Embedding family", sf0.001: LSH 18x6 = 0.68,
  * LSH 16x8 = 0.94, IVF nprobe=4/8 = 0.76) purely to absorb float
  * tie-breaks. A silent quality regression in the banding or probe logic
  * (the one failure mode the oracle gate cannot see, since approximate
  * paths have no SQL truth) fails this spec instead of staying green. */
class AnnRecallSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fixture = "/root/testdata/sf0.001/embeddings.parquet"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ann-recall-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private lazy val corpus: DataFrame = spark.read.parquet(fixture)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    .persist()
  private lazy val queries: DataFrame = corpus.filter(col("vec_id") < 20)
  private lazy val exact: DataFrame =
    Similarity.bruteForceTopK(queries, "vec_id", "e", corpus, "vec_id", "e", k = 5)
      .select("query_id", "corpus_id").persist()

  private def recallOf(approx: DataFrame): Double =
    exact.join(approx.select("query_id", "corpus_id"),
      Seq("query_id", "corpus_id"), "left_semi").count().toDouble / exact.count()

  test("LSH top-k at the production 18x6 geometry holds its recall floor") {
    val r = recallOf(Similarity.lshTopK(queries, "vec_id", "e", corpus, "vec_id", "e",
      dim = 64, k = 5, planes = 18, bands = 6))
    assert(r >= 0.60, f"recall@5 regressed to $r%.3f (measured 0.68 at pin time)")
  }

  test("LSH top-k at the high-recall 16x8 geometry holds its recall floor") {
    val r = recallOf(Similarity.lshTopK(queries, "vec_id", "e", corpus, "vec_id", "e",
      dim = 64, k = 5, planes = 16, bands = 8))
    assert(r >= 0.88, f"recall@5 regressed to $r%.3f (measured 0.94 at pin time)")
  }

  test("LSH top-k auto geometry (r11 default) completes and holds a recall floor") {
    // planes = bands = 0 -> autoLshGeometry from one corpus count at an
    // assumed 0.9 working cosine. On this small fixture that derives a
    // 4-bit geometry; the fixture's true neighbors sit at LOW cosine
    // (synthetic noise), well under the auto assumption, so the floor
    // here is deliberately modest — the explicit-geometry floors above
    // stay the quality pins; this guards the default PATH (count,
    // derivation, wiring) against silent breakage.
    val r = recallOf(Similarity.lshTopK(queries, "vec_id", "e", corpus, "vec_id", "e",
      dim = 64, k = 5))
    assert(r >= 0.25, f"auto-geometry recall@5 fell to $r%.3f")
  }

  test("IVF top-k at half probe (nprobe=4 of nlist=8) holds its recall floor") {
    val r = recallOf(Similarity.ivfTopK(queries, "vec_id", "e", corpus, "vec_id", "e",
      k = 5, nlist = 8, nprobe = 4))
    assert(r >= 0.70, f"recall@5 regressed to $r%.3f (measured 0.76 at pin time)")
  }

  test("IVF top-k at full probe is exactly brute force") {
    val r = recallOf(Similarity.ivfTopK(queries, "vec_id", "e", corpus, "vec_id", "e",
      k = 5, nlist = 8, nprobe = 8))
    assert(r === 1.0, f"exhaustive probe must equal brute force, got $r%.3f")
  }

  test("IVFPQ (m=8, ksub=256, refine=8) holds its recall floor at full probe") {
    // full coarse probe isolates the PQ/ADC approximation itself: any
    // recall lost here is lost to code quantization + shortlist pruning.
    // 8 one-byte codes vs 512 B of raw float64 = a 64x payload cut.
    val r = recallOf(Pq.ivfPqTopK(queries, "vec_id", "e", corpus, "vec_id", "e",
      k = 5, nlist = 8, nprobe = 8, m = 8, ksub = 256, refine = 8))
    assert(r >= 0.92, f"recall@5 regressed to $r%.3f (measured 1.00 at pin time)")
  }

  // ---- production dimensionality (256) ------------------------------------
  // The driver fixture is 64-wide; real embeddings are 256-1024-wide and
  // every ANN cost scales with dim. Floors pinned on the deterministic
  // EmbedSynth clustered corpus at noise=4.0 — the hardness regime where
  // the same geometries land near their 64-dim fixture values (SCALE.md
  // "Embedding family", dim 256, noise 4.0: LSH 18x6 = 0.67, 16x8 = 0.95,
  // IVF nprobe=4 = 0.71) — so a dim-dependent quality regression (plane
  // matrix, probe math, normalize) fails here even while the 64-dim
  // fixture stays green.

  private lazy val corpus256: DataFrame =
    graft.tools.EmbedSynth.corpus(spark, 2000, 256, noise = 4.0).persist()
  private lazy val queries256: DataFrame = corpus256.filter(col("vec_id") < 20)
  private lazy val exact256: DataFrame =
    Similarity.bruteForceTopK(queries256, "vec_id", "e", corpus256, "vec_id", "e", k = 5)
      .select("query_id", "corpus_id").persist()

  private def recall256(approx: DataFrame): Double =
    exact256.join(approx.select("query_id", "corpus_id"),
      Seq("query_id", "corpus_id"), "left_semi").count().toDouble / exact256.count()

  test("dim 256: LSH 18x6 holds its recall floor") {
    val r = recall256(Similarity.lshTopK(queries256, "vec_id", "e", corpus256,
      "vec_id", "e", dim = 256, k = 5, planes = 18, bands = 6))
    assert(r >= 0.60, f"recall@5 regressed to $r%.3f (measured 0.67 at pin time)")
  }

  test("dim 256: LSH 16x8 holds its recall floor") {
    val r = recall256(Similarity.lshTopK(queries256, "vec_id", "e", corpus256,
      "vec_id", "e", dim = 256, k = 5, planes = 16, bands = 8))
    assert(r >= 0.88, f"recall@5 regressed to $r%.3f (measured 0.95 at pin time)")
  }

  test("dim 256: IVF at half probe holds its recall floor, full probe is exact") {
    val half = recall256(Similarity.ivfTopK(queries256, "vec_id", "e", corpus256,
      "vec_id", "e", k = 5, nlist = 8, nprobe = 4))
    assert(half >= 0.64, f"recall@5 regressed to $half%.3f (measured 0.71 at pin time)")
    val full = recall256(Similarity.ivfTopK(queries256, "vec_id", "e", corpus256,
      "vec_id", "e", k = 5, nlist = 8, nprobe = 8))
    assert(full === 1.0, f"exhaustive probe must equal brute force, got $full%.3f")
  }

  test("dim 256: IVFPQ (m=16, ksub=256, refine=16) holds its recall floor") {
    // 16 one-byte codes vs 2 KB of raw float64: a 128x candidate-payload
    // cut; noise 4.0 is the adversarial near-uniform regime, so this is
    // the WORST-case quantization recall (m=32 buys 0.97 at 64x)
    val r = recall256(Pq.ivfPqTopK(queries256, "vec_id", "e", corpus256,
      "vec_id", "e", k = 5, nlist = 8, nprobe = 8, m = 16, ksub = 256, refine = 16))
    assert(r >= 0.84, f"recall@5 regressed to $r%.3f (measured 0.92 at pin time)")
  }
}
