package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for nearest-neighbor search (Jégou, Douze &
  * Schmid, TPAMI 2011) — the memory side of the 100 TB ANN story that
  * IVF/LSH alone do not cover.
  *
  * A 256-dim float corpus costs ~1 KB/vector; at 10^11 vectors the raw
  * vectors cannot ride any exchange, and even the IVF candidate join is
  * dominated by vector width. PQ splits each (normalized) vector into
  * `m` subvectors, k-means-quantizes every subspace independently into
  * `ksub` ≤ 256 centroids, and stores each vector as `m` one-byte codes:
  * 256-dim × 8 B = 2 048 B becomes m = 16–32 B — a 64–128× payload cut
  * at 0.92–0.97 top-k recall even on the adversarial noise-4.0 synth
  * corpus, and recall 1.00 at 64× on the 64-dim fixture, once the ADC
  * shortlist is exactly re-ranked (SCALE.md IVFPQ grid; floors in AnnRecallSpec).
  *
  * Search is asymmetric distance computation (ADC): the query stays
  * exact, each subspace contributes a table of `ksub` partial inner
  * products, and a candidate's estimated cosine is `m` table lookups —
  * no per-pair float math at all. The shortlist (top `k·refine` by ADC)
  * is then re-ranked by exact cosine, so approximation error only costs
  * recall, never a wrong score on a surviving row.
  *
  * Spark shape (the part that matters at scale):
  *  - codebooks train driver-side on a bounded deterministic sample
  *    (same discipline as [[Similarity.trainIvfCentroids]]): m × ksub ×
  *    dsub doubles, a few hundred KB at production shapes, rides task
  *    closures;
  *  - the corpus index frame is (cell, corpus_id, codes BINARY(m)) —
  *    id-width rows through the one shuffle of the candidate join;
  *  - exact vectors are touched ONLY by the final re-rank join, which
  *    moves `k·refine` rows per query.
  *
  * Design choice: codes quantize the RAW normalized vector, not the
  * residual (x − coarse centroid) of classic IVFADC. Residual encoding
  * buys recall only where the PQ distortion dominates; here the
  * measured pruned-probe loss is coarse-quantizer-bound (nprobe=4 of 8
  * scores 0.61 with PQ vs 0.61 for plain IVF on the dim-256 synth —
  * identical), while full-probe recall is already 0.92–1.00, so the
  * residual variant's extra moving part (a per-probed-cell lookup
  * table, m×ksub×nprobe per query) isn't paying for anything at these
  * shapes. Revisit if a future corpus shows full-probe recall sagging
  * below the refine budget.
  *
  * Reference analogue: none — the reference engine has no vector
  * search; this extends the ANN family ([[Similarity]]) along the
  * published IVF-ADC design.
  */
object Pq {

  /** Trained product quantizer: `codebooks(j)(c)` is the `dsub`-wide
    * centroid `c` of subspace `j`. `ksub` ≤ 256 so a code is one byte. */
  final case class PqModel(m: Int, ksub: Int, dsub: Int,
      codebooks: Array[Array[Array[Double]]]) {
    def dim: Int = m * dsub
  }

  /** ADC scoring as the native codegen'd [[graft.plans.AdcScore]]
    * expression — the per-candidate hot path stays inside
    * WholeStageCodegen (a ScalaUDF would deserialize the m×ksub lut to
    * a Scala Seq per candidate row). */
  private def adcCol(codes: org.apache.spark.sql.Column,
      lut: org.apache.spark.sql.Column, ksub: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      graft.plans.AdcScore(
        org.apache.spark.sql.graftshim.ColumnShim.expression(codes),
        org.apache.spark.sql.graftshim.ColumnShim.expression(lut), ksub))

  /** Budgets below this floor never trigger the shortlist-saturation
    * census (one zero-column count of the candidate table): production
    * top-k budgets (k·refine ≈ tens-to-hundreds) sit orders of magnitude
    * under it, so they never pay the count — and never skip the ADC
    * stage — while any corpus-covering regime at real scale clears it. */
  private[operators] val SaturationCheckFloor: Long = 1L << 16

  /** Top-`budget` ADC shortlist per query from a scored candidate frame
    * (query_id, corpus_id, adc). Production budgets (≤ the saturation
    * floor) rank via the bounded-heap [[graft.plans.TopKByScore]]
    * aggregate — the exchange carries ≤ partitions·budget pairs per
    * query instead of every scored candidate; above the floor (the
    * mid regime between production and saturation, where a heap per
    * key would hold budget entries per task) the row_number window
    * ranks instead. Tie-break (adc desc, corpus_id asc) is identical
    * on both paths. */
  private def adcShortlist(cand: DataFrame, budget: Long): DataFrame =
    if (budget <= SaturationCheckFloor &&
        cand.schema("corpus_id").dataType == org.apache.spark.sql.types.LongType)
      cand.groupBy(col("query_id"))
        .agg(graft.plans.TopKByScore.topKCol(col("adc"), col("corpus_id"), budget.toInt).as("tk"))
        .select(col("query_id"), explode(col("tk.id")).as("corpus_id"))
    else {
      val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("corpus_id"))
      cand.withColumn("r", row_number().over(wAdc))
        .filter(col("r") <= budget)
        .select("query_id", "corpus_id")
    }

  private def nearestSubL2(sub: Array[Double], cb: Array[Array[Double]]): Int =
    nearestSubL2At(sub, 0, cb)

  /** Nearest subspace centroid reading `v` in place at offset `off` —
    * the per-row encode loop allocates no subvector copies. */
  private def nearestSubL2At(v: Array[Double], off: Int, cb: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < cb.length) {
      val ct = cb(c); var d = 0.0d; var j = 0
      while (j < ct.length) { val t = v(off + j) - ct(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Lloyd's k-means under L2 on one subspace. Deterministic: init =
    * every (n/k)-th sample subvector in id order, no RNG; an empty cell
    * keeps its centroid (mirrors [[Similarity.trainIvfCentroids]]). */
  private def kmeansL2(xs: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dsub = xs(0).length
    var cents = Array.tabulate(k)(i => xs(i * xs.length / k).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dsub))
      val counts = new Array[Int](k)
      xs.foreach { v =>
        val c = nearestSubL2(v, cents)
        val s = sums(c); var j = 0
        while (j < dsub) { s(j) += v(j); j += 1 }
        counts(c) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else { val s = sums(c); Array.tabulate(dsub)(j => s(j) / counts(c)) }
      }
      it += 1
    }
    cents
  }

  /** Train a PQ codebook set on a bounded deterministic sample (first
    * `maxSample` vectors by id — cost independent of corpus size, the
    * standard recipe). Vectors are L2-normalized before splitting, so
    * ADC inner products estimate cosine directly. */
  def trainPq(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int = 256, iters: Int = 8, maxSample: Int = 4096): PqModel =
    // bounded-fetch sample: see Similarity.firstVecsById — a bare
    // orderBy.limit.collect() pulls partitions·maxSample rows to the
    // driver, which at production dims is gigabytes
    trainPqFromSample(
      Similarity.firstVecsById(corpus, idCol, vecCol, maxSample), m, ksub, iters)

  /** The subspace-kmeans half of [[trainPq]] over an already-fetched raw
    * sample (normalized here) — shared by build (first-by-id sample) and
    * [[rebuildPqIndex]] (hash-spread sample; one fetch serves both the
    * coarse and PQ trainers). */
  private[operators] def trainPqFromSample(rawSample: Array[Array[Double]],
      m: Int, ksub: Int, iters: Int): PqModel = {
    require(ksub >= 2 && ksub <= 256, s"ksub must be in [2, 256], got $ksub (one-byte codes)")
    val sample = rawSample.map(Similarity.normalize)
    require(sample.length >= ksub, s"need >= $ksub sample vectors to train, got ${sample.length}")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide evenly into m=$m subspaces")
    val dsub = dim / m
    // subspaces train independently — fan them across driver cores
    // (the m × ksub × maxSample Lloyd's loops are the dominant cold
    // cost of the whole operator at production ksub=256; training
    // stays bounded and corpus-size-independent either way)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val codebooks = Await.result(
      Future.sequence((0 until m).map { j => Future {
        val subs = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
        kmeansL2(subs, ksub, iters)
      }}), scala.concurrent.duration.Duration.Inf).toArray
    PqModel(m, ksub, dsub, codebooks)
  }

  /** One vector → `m` one-byte codes (on the normalized vector). */
  private[operators] def encode(model: PqModel, v0: Array[Double]): Array[Byte] = {
    require(v0.length == model.dim,
      s"embedding dimension ${v0.length} != model dimension ${model.dim}")
    encodeNormalized(model, Similarity.normalize(v0))
  }

  /** Encode an ALREADY-normalized vector: `m` in-place nearest-centroid
    * scans, no allocation beyond the m-byte output. */
  private[operators] def encodeNormalized(model: PqModel, v: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](model.m)
    var j = 0
    while (j < model.m) {
      out(j) = nearestSubL2At(v, j * model.dsub, model.codebooks(j)).toByte
      j += 1
    }
    out
  }

  /** Reconstruct the (normalized) vector a code represents — spec /
    * diagnostics surface for the quantization error bound. */
  private[operators] def decode(model: PqModel, codes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](model.dim)
    var j = 0
    while (j < model.m) {
      val ct = model.codebooks(j)(codes(j) & 0xFF)
      System.arraycopy(ct, 0, out, j * model.dsub, model.dsub)
      j += 1
    }
    out
  }

  /** Corpus → (id, codes BINARY(m)): the persistable compressed index
    * payload — m bytes per vector instead of 8·dim. */
  def encodePq(corpus: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame = {
    val enc = udf { (v: Seq[Double]) => encode(model, v.toArray) }
    corpus.select(col(idCol),
      enc(col(vecCol).cast("array<double>")).as("codes"))
  }

  /** Symmetric per-vector int8 scalar-quantization audit — the simpler
    * sibling of PQ (4× over float32, 8× over the float64 compute type,
    * exactly preserved direction per element up to scale/2): scale =
    * max|x|/127, code = nearest-int(x/scale) ∈ [-127, 127]. Returns per
    * vector (id, scale, max_err, mean_err) where err is the absolute
    * dequantization error — the audit a pipeline runs before switching
    * its ANN index to a quantized payload. Every step is a plain SQL
    * higher-order-function expression (nearest int spelled
    * floor(x/scale + 0.5) so Spark and any ANSI oracle agree on ties),
    * fully codegen'd, no UDF, no shuffle. Zero vectors (scale = 0) are
    * excluded: they carry no direction to preserve. */
  def int8QuantStats(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol), v.as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / lit(127.0d))
      .filter(col("scale") > 0.0d)
      .withColumn("errs", transform(col("v"),
        x => abs(x - floor(x / col("scale") + lit(0.5d)) * col("scale"))))
      .select(col(idCol),
        round(col("scale"), 6).as("scale"),
        round(array_max(col("errs")), 6).as("max_err"),
        round(aggregate(col("errs"), lit(0.0d), (a, x) => a + x)
          / size(col("errs")), 6).as("mean_err"))
  }

  /** IVF-ADC top-k (IVFPQ): coarse quantizer prunes to `nprobe` of
    * `nlist` cells, ADC over one-byte codes ranks candidates, exact
    * cosine re-ranks the top `k·refine` shortlist.
    *
    * Plan: the index side of the candidate join is (cell, corpus_id,
    * codes) — id-width rows; each query row carries its flattened
    * m×ksub lookup table (built once per query, a few KB), so candidate
    * scoring is m array lookups per pair inside one projection. The
    * only joins touching full vectors move `|queries|` and
    * `k·refine·|queries|` rows. Recall tunes with (nprobe, ksub,
    * refine) — SCALE.md IVFPQ grid: at FAISS-conventional ksub=256 (8-bit
    * codes), m=8/refine=8 recovers recall 1.00 on the 64-dim fixture
    * (8 B/vec = 64× cut) and m=16/refine=16 recovers 0.92 on the
    * adversarial 256-dim noise-4.0 synth (16 B = 128× cut; m=32 buys
    * 0.97). Floors pinned in AnnRecallSpec at both dims. At dim 1024
    * (SCALE.md): clustered corpora hold eps-recall@0.01 = 1.000 at
    * every grid point down to m=8 (1024× cut); when cosine margins
    * are hair-thin (noise 4.0) quality degrades (best 0.63 eps at
    * m=32) — keep dsub ≤ 32 and raise refine there, or use plain IVF.
    *
    * When k·refine covers the whole corpus (the exhaustive oracle
    * regime, or an over-provisioned production call), the ADC stage is
    * provably a no-op and is skipped — see the saturation note in the
    * body; results are identical either way (spec-pinned). */
  def ivfPqTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 256, refine: Int = 8,
      iters: Int = 8, maxSample: Int = 4096): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val cents = Similarity.trainIvfCentroids(corpus, cId, cVec, nlist, iters, maxSample)
    val model = trainPq(corpus, cId, cVec, m, ksub, iters, maxSample)
    val np = math.min(nprobe, cents.length)

    val probeUdf = udf { (v: Seq[Double]) =>
      Similarity.probeCells(Similarity.normalize(v.toArray), cents, np)
    }
    val lutUdf = udf { (v: Seq[Double]) => adcTable(model, Similarity.normalize(v.toArray)) }
    // fused assign+encode: deserialize and normalize each corpus vector
    // once (two separate UDFs would each pay the per-element boxing and
    // the normalize pass — at corpus scale that IS the encode cost)
    val cellCodesUdf = udf { (v: Seq[Double]) =>
      val x = Similarity.normalize(v.toArray)
      (Similarity.nearestCell(x, cents), encodeNormalized(model, x))
    }

    val c0 = corpus.select(col(cId).as("corpus_id"), col(cVec).cast("array<double>").as("cv"))
    // The repartition below is load-bearing twice over. (1) LUT
    // materialization: whole-stage codegen defers streamed-side column
    // evaluation to point-of-use, and for a multi-match join that point
    // is INSIDE the match loop — without an exchange the m·ksub·dsub
    // lut UDF re-runs per CANDIDATE row (measured: a dim-1024 batch run
    // burned 14 CPU-minutes in the lut lambda before being killed).
    // The exchange serializes each query row once, lut included.
    // (2) Parallelism: a query frame arriving as one partition (e.g.
    // from a limit) would otherwise run the whole ADC stage in ONE task
    // whenever the codes side broadcasts. Cost: |q|·nprobe rows of a
    // few KB each — noise next to either hazard.
    val q = queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("qv"))
      .withColumn("cell", explode(probeUdf(col("qv"))))
      .withColumn("lut", lutUdf(col("qv")))
      .select("query_id", "cell", "lut")
      .repartition(col("query_id"), col("cell"))
    // Shortlist-saturation skip (same contract as [[pqTopKIndexed]]):
    // when k·refine covers the whole corpus it covers every probed
    // cell's candidates, the ADC rank-and-truncate keeps everything, and
    // the encode + score + per-query-sort + corpus-sized-broadcast
    // stages are provably no-ops — go straight to the exact re-rank.
    // The census is a zero-column corpus count, gated on the budget
    // clearing SaturationCheckFloor so production budgets never pay it
    // (and the small-regime driver oracle still exercises ADC).
    val budget = k.toLong * refine
    val saturated = budget >= SaturationCheckFloor && budget >= c0.count()
    // exact re-rank: the query side is small by contract and broadcasts
    val qv = broadcast(queries
      .select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("qv"))
      .withColumn("qn", Similarity.l2norm(col("qv"))))
    val candidates =
      if (saturated)
        broadcast(q.select("query_id", "cell"))
          .join(c0.withColumn("cell", Similarity.cellUdf(cents)(col("cv")))
            .withColumn("cn", Similarity.l2norm(col("cv"))), Seq("cell"))
          .filter(col("query_id") =!= col("corpus_id"))
      else {
        // the index frame: id-width rows + m code bytes; vectors do NOT ride
        val cIdx = c0
          .withColumn("s", cellCodesUdf(col("cv")))
          .select(col("s._1").as("cell"), col("corpus_id"), col("s._2").as("codes"))
        val shortlist = adcShortlist(q.join(cIdx, Seq("cell"))
          .filter(col("query_id") =!= col("corpus_id"))
          .withColumn("adc", adcCol(col("codes"), col("lut"), model.ksub)), budget)
        // the shortlist is k·refine·|queries| id-width rows — broadcast it
        // so the corpus NEVER shuffles on corpus_id for the re-rank
        // (without the hint the planner broadcasts whichever side fits,
        // which at real scale could flip to a corpus-wide sort-merge
        // exchange)
        val cvn = c0.withColumn("cn", Similarity.l2norm(col("cv")))
        broadcast(shortlist).join(cvn, Seq("corpus_id"))
      }
    Similarity.rankTopK(candidates
      .join(qv, Seq("query_id"))
      .withColumn("cosine",
        Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))), k)
  }

  /** The ADC lookup table of one normalized query, flattened:
    * `lut(j*ksub + c)` = <q_sub_j, codebook_j(c)>. A query whose
    * dimension is not the model's fails here, loudly. */
  private def adcTable(model: PqModel, x: Array[Double]): Array[Double] = {
    require(x.length == model.dim,
      s"query dimension ${x.length} != model dimension ${model.dim}")
    val lut = new Array[Double](model.m * model.ksub)
    var j = 0
    while (j < model.m) {
      val cb = model.codebooks(j); val base = j * model.dsub
      var c = 0
      while (c < model.ksub) {
        val ct = cb(c); var acc = 0.0d; var d = 0
        while (d < model.dsub) { acc += x(base + d) * ct(d); d += 1 }
        lut(j * model.ksub + c) = acc
        c += 1
      }
      j += 1
    }
    lut
  }

  /** SemDeDup with an SDC-prefiltered pair scan — PROVABLY the same
    * output as [[Similarity.semanticDedup]] (same clusters via the
    * shared assignment, exact cosine states every surviving pair): the
    * m-lookup symmetric-distance bound test runs before the dim-width
    * dot inside the same pipelined self-join, and drops a pair only
    * when Cauchy–Schwarz (per-row reconstruction-error norms stored at
    * encode time: |cos − sdc| ≤ ‖e_a‖ + ‖e_b‖ + 3‖e_a‖‖e_b‖) proves
    * its exact cosine cannot reach `threshold` — no tuned margin,
    * exactness is data-independent (a fixed margin measured at sf0.01
    * silently broke at 10×; the bound can't). `extraSlack` only widens
    * the prefilter. Equality law spec-pinned; the oracle replays the
    * exact answer at all four audit corpora.
    *
    * **Measured verdict (SCALE.md, "Quantized SemDeDup pair scan"):
    * prefer the exact [[Similarity.semanticDedup]] at dim ≤ 256.** Three architectures
    * were measured; this one (prefilter pipelined in the join) is the
    * best of them and still trails the exact scan ~2× at every
    * feasible shape, for two structural reasons worth recording:
    * (1) Spark's self-join shuffle is LINEAR — the quadratic pair term
    * never materializes or shuffles, so there is no "payload win" to
    * collect, only per-pair compute; and (2) ADC's trick does not
    * transfer to pair scans — a per-QUERY lookup table is m·ksub
    * entries (L1-resident), but a pair table is m·ksub² entries
    * (megabytes), and random lookups into L3 lose to a vectorized
    * ≤256-wide dot. The operator stays because it is correct, bounds
    * are novel, and super-wide embeddings (dim ≳ 1024, where the dot
    * outgrows the lookup cost) may yet flip the verdict — measure
    * before choosing it. */
  def semanticDedupPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double, extraSlack: Double = 0.0d,
      m: Int = 8, ksub: Int = 256,
      centroids: Option[Array[Array[Double]]] = None,
      iters: Int = 8, maxSample: Int = 4096): DataFrame = {
    require(extraSlack >= 0.0d, "extraSlack must be non-negative")
    val model = trainPq(corpus, idCol, vecCol, m, ksub, iters, maxSample)
    // SDC tables: sdc(j)(c1*ksub + c2) = <codebook_j(c1), codebook_j(c2)>
    val sdcFlat: Array[Array[Double]] = Array.tabulate(model.m) { j =>
      val cb = model.codebooks(j)
      val t = new Array[Double](model.ksub * model.ksub)
      var c1 = 0
      while (c1 < model.ksub) {
        var c2 = 0
        while (c2 < model.ksub) {
          var acc = 0.0d; var d = 0
          while (d < model.dsub) { acc += cb(c1)(d) * cb(c2)(d); d += 1 }
          t(c1 * model.ksub + c2) = acc
          c2 += 1
        }
        c1 += 1
      }
      t
    }
    // flatten to the SdcScore layout: j*ksub^2 + c1*ksub + c2
    val sdcTables = new Array[Double](model.m * model.ksub * model.ksub)
    var jj = 0
    while (jj < model.m) {
      System.arraycopy(sdcFlat(jj), 0, sdcTables,
        jj * model.ksub * model.ksub, model.ksub * model.ksub)
      jj += 1
    }
    def sdcCol(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftshim.ColumnShim.column(
        graft.plans.SdcScore(
          org.apache.spark.sql.graftshim.ColumnShim.expression(a),
          org.apache.spark.sql.graftshim.ColumnShim.expression(b),
          sdcTables, model.ksub))
    // codes + the row's reconstruction-error NORM (the bound's input),
    // both computed in one pass
    val encErrUdf = udf { (v: Seq[Double]) =>
      val x = Similarity.normalize(v.toArray)
      val cds = encode(model, v.toArray)
      val rec = decode(model, cds)
      var e = 0.0d; var i = 0
      while (i < x.length) { val d = x(i) - rec(i); e += d * d; i += 1 }
      (cds, math.sqrt(e))
    }

    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val assign = Similarity.clusterAssign(c, k, centroids)
    // both sides of the self-join consume this — persist via the
    // session registry (released by unpersistAll)
    val assigned = Dedup.pin(c.join(assign, Seq("id"))
      .withColumn("ce", encErrUdf(col("v")))
      .select(col("cluster"), col("id"), col("v"), col("nrm"),
        col("ce._1").as("codes"), col("ce._2").as("qerr")))
    val a = assigned.select(col("cluster"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"), col("codes").as("ca"), col("qerr").as("ea"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"), col("codes").as("cb"), col("qerr").as("eb"))
    // keep unless cos >= threshold is IMPOSSIBLE under the error bound;
    // the two filters stay separate Column predicates so the m-lookup
    // bound test runs BEFORE the dim-width dot in the generated code —
    // the whole pair term is pipelined inside the self-join, nothing
    // quadratic ever materializes or shuffles (the first cut staged a
    // candidate frame through two id-keyed join-backs, which lost to
    // the exact scan at EVERY shape measured: pair volume through a
    // shuffle is the one thing this operator must never create)
    val bound = col("ea") + col("eb") + lit(3.0d) * col("ea") * col("eb") + lit(extraSlack)
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(sdcCol(col("ca"), col("cb")) >= lit(threshold) - bound)
      .withColumn("cosine",
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("cluster"), col("id_a"), col("id_b"),
        round(col("cosine"), 4).as("cosine"))
  }

  // ---- persisted IVFPQ index --------------------------------------------
  // The materialize-once artifact ([[Similarity.writeIvfIndex]]'s PQ
  // sibling): `codes/` is the HOT table — (corpus_id, codes BINARY(m))
  // partitionBy(cell), m+8 bytes a row, the only thing the ADC scan
  // reads; `vectors/` is the COLD table — same partitioning, raw vectors
  // + norms, touched only by the k·refine-per-query re-rank join and
  // prunable to the same probed cells. `model/` holds the coarse
  // centroids and the m×ksub codebooks. At 100 TB the hot table is
  // 64–128× smaller than the corpus — the difference between an index
  // that fits in cluster memory and one that doesn't.

  /** The routing data of a stored IVFPQ index — coarse centroids + PQ
    * codebooks — on the driver: a private copy of the index snapshot's
    * ([[IndexMaintenance]]), which every probe, append and drift call
    * already reads through at no Spark job while the model files are
    * unchanged. Callers that hold a model of their own pass it to the
    * model-taking overloads of [[appendPqIndexIdempotent]] /
    * [[indexDriftStats]] / [[shouldRetrain]]. */
  def loadPqIndexModel(spark: SparkSession,
      path: String): (Array[Array[Double]], PqModel) = {
    val (cents, model) = PqFamily.routing(spark, path)
    (cents.map(_.clone()), model.copy(codebooks = model.codebooks.map(_.map(_.clone()))))
  }

  /** Codebook rows `(j, c, centroid)` → the model (ordered on the
    * driver: m × ksub rows). */
  private def decodeModel(rows: Array[org.apache.spark.sql.Row]): PqModel = {
    val cb = rows.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = cb.map(_._1).max + 1
    val ksub = cb.map(_._2).max + 1
    val dsub = cb(0)._3.length
    val books = Array.ofDim[Array[Double]](m, ksub)
    cb.foreach { case (j, c, v) => books(j)(c) = v }
    PqModel(m, ksub, dsub, books)
  }

  private val CodebookSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("j", IntegerType), StructField("c", IntegerType),
      StructField("centroid", ArrayType(DoubleType))))
  }

  /** Build and persist an IVFPQ index: train the coarse quantizer and
    * the PQ codebooks on a bounded sample, then lay the corpus out as a
    * cell-partitioned codes table + a cell-partitioned vectors table
    * (norms precomputed). One assignment+encode pass over the corpus.
    *
    * Also persists the BUILD-TIME drift reference (`model/drift_ref`):
    * [[indexDriftStats]] of a bounded, deterministic reference batch —
    * the "healthy" (coarse_fit, pq_err) the append contract's monitor
    * compares against. The reference batch is HELD OUT whenever the
    * corpus allows (r15): the next `maxSample` vectors by id AFTER the
    * training sample. A reference measured on the training ids
    * themselves is optimistically low on `pq_err` (the codebooks fit
    * those exact vectors — at production ratios like 4096 samples over
    * 256 codewords per subspace the in-sample gap is real), so an
    * in-sample reference makes healthy out-of-sample batches look
    * drifted at tight tolerances. Corpora no larger than the training
    * sample fall back to the in-sample reference — pass looser
    * tolerances to [[shouldRetrain]] in that toy regime. Sample-bounded
    * either way: O(maxSample·dim), never a second corpus pass. */
  def writePqIndex(corpus: DataFrame, cId: String, cVec: String, path: String,
      nlist: Int = 16, m: Int = 8, ksub: Int = 256,
      iters: Int = 8, maxSample: Int = 4096, spreadFiles: Int = 0,
      metaCols: Seq[String] = Nil): Unit = {
    // ONE bounded fetch serves the coarse trainer, the PQ trainer, and
    // the held-out drift reference (the three samples are strictly
    // nested — train = the first maxSample by id, ref = the next); the
    // previous shape paid three full-corpus orderBy/limit jobs for the
    // same rows
    val both = Similarity.firstVecsById(corpus, cId, cVec, 2 * maxSample)
    val (train, ref) = Similarity.heldOutSplit(both, maxSample)
    val cents = Similarity.trainIvfCentroidsFromSample(train, nlist, iters)
    val model = trainPqFromSample(train, m, ksub, iters)
    writePqIndexParts(corpus, cId, cVec, path, cents, model, ref, spreadFiles, metaCols)
  }

  /** The write half of [[writePqIndex]] against already-trained models
    * and reference batch — shared by build and [[rebuildPqIndex]]. */
  private def writePqIndexParts(corpus: DataFrame, cId: String, cVec: String,
      path: String, cents: Array[Array[Double]], model: PqModel,
      refVecs: Array[Array[Double]], spreadFiles: Int,
      metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    // validate metaCols BEFORE any destructive step — the ledger clear
    // and model overwrite below must not run for a build writeRows will
    // reject (r18 review: a rejected build would otherwise resurrect
    // tombstoned vectors and pair old rows with a new model)
    Similarity.requireMetaCols(metaCols)
    requirePqMetaCols(metaCols)
    // a build at this path is the ledger reset — stale tombstones from
    // a previous index here would hide freshly built vectors
    IndexMaintenance.clearDeletes(spark, path)
    // ... and records the metadata contract every append must match
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexMaintenance.writeMetaColsFile(fs, path, metaCols)
    writeModel(spark, path, cents, model)
    writeRows(corpus, cId, cVec, path, cents, model, "overwrite", -1L, spreadFiles,
      metaCols)
    import spark.implicits._
    indexDriftStats(
      refVecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
        .toDF("vec_id", "v"), "vec_id", "v", cents, model)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model/drift_ref")
    // again after the tables: moves the snapshot's schema key past any
    // schema a probe read while they were being rewritten
    IndexMaintenance.writeMetaColsFile(fs, path, metaCols)
  }

  /** Rebuild a stored IVFPQ index from its own vectors table — the major
    * compaction and [[shouldRetrain]]'s remedy, the
    * [[Similarity.rebuildIvfIndex]] twin: retrain the coarse quantizer
    * AND the PQ codebooks on a hash-spread sample of the CURRENT corpus
    * (a drifted corpus's id-prefix is the stale distribution the trigger
    * condemned — see [[Similarity.hashSpreadVecsById]]), re-encode every
    * row, and write a fresh index (codes + vectors + model + held-out
    * drift reference) at `newPath`. Both drift axes re-baseline: the new
    * codebooks fit the mixed distribution, so `pq_err` against the new
    * reference measures the NEXT drift.
    *
    * BUILD-ASIDE (`newPath != path` required): the live index never
    * stops serving and a crash costs a restartable rebuild, not the
    * index — flip readers, then delete the old copy. Cost: one vectors
    * read + one corpus write per table + bounded training.
    *
    * `nlist`/`m`/`ksub` = 0 keep the stored geometry (the common case);
    * pass them to co-scale — a rebuild is when an operator turns those
    * knobs (nlist ∝ corpus; m only when the embedding width changed). */
  def rebuildPqIndex(spark: SparkSession, path: String, newPath: String,
      nlist: Int = 0, m: Int = 0, ksub: Int = 0, iters: Int = 8,
      maxSample: Int = 4096, spreadFiles: Int = 0): Unit = {
    require(newPath != path,
      s"rebuild is build-aside: newPath must differ from the live index ($path); " +
        "flip readers to newPath after the rebuild, then delete the old index")
    // the live, tombstone-filtered vectors, read behind the reader gate
    // on BOTH tables; refused while their batch layers diverge — a
    // codes-only batch (a writer that died between writeRows' two table
    // writes, keyed or manual) would be silently omitted from a rebuild
    // that reads only vectors ([[IndexMaintenance.Family.liveRows]])
    val corpus = PqFamily.liveRows(spark, path, "vectors")
      .drop("cn", "cell", "ingest_batch")
    val (oldCents, oldModel) = PqFamily.routing(spark, path)
    val nl = if (nlist > 0) nlist else oldCents.length
    val mm = if (m > 0) m else oldModel.m
    val ks = if (ksub > 0) ksub else oldModel.ksub
    val both = Similarity.hashSpreadVecsById(corpus, "corpus_id", "cv", 2 * maxSample)
    val (train, ref) = Similarity.heldOutSplit(both, maxSample)
    val cents = Similarity.trainIvfCentroidsFromSample(train, nl, iters)
    val model = trainPqFromSample(train, mm, ks, iters)
    writePqIndexParts(corpus, "corpus_id", "cv", newPath, cents, model, ref,
      spreadFiles, metaCols = corpus.columns.filterNot(Set("corpus_id", "cv")).toSeq)
  }

  /** Compact a streamed-into IVFPQ index incrementally: fold every
    * checkpoint-committed batch leaf of `codes/` and `vectors/` into
    * their resident `-1` layers ([[IndexMaintenance.Family.fold]]).
    * [[recoverPqFold]] repairs an interruption. */
  def compactPqIndex(spark: SparkSession, path: String,
      committedBatchId: Long, spreadFiles: Int = 0): Unit =
    PqFamily.fold(spark, path, committedBatchId, spreadFiles)

  /** Minor compaction of both IVFPQ tables' resident layers
    * ([[IndexMaintenance.Family.compactResident]]). Returns cells
    * compacted in (codes, vectors) order. */
  def compactPqResident(spark: SparkSession, path: String,
      maxFilesPerCell: Int = 0, spreadFiles: Int = 0): (Int, Int) =
    pair(PqFamily.compactResident(spark, path, maxFilesPerCell, spreadFiles))

  /** Backfill METADATA columns onto a stored IVFPQ index (r19)
    * ([[IndexMaintenance.Family.backfillMetaCols]]). The r18 design
    * stores metaCols in codes (so the ADC stage filters and non-matching
    * rows never consume shortlist budget) AND vectors (so the saturation
    * path, which never reads codes, filters too), so the upgrade joins
    * the same metadata into both — an id-keyed column join instead of a
    * complete re-ENCODE (160 s at the 20 M rung, SCALE.md 18a). */
  def backfillMetaCols(spark: SparkSession, path: String, meta: DataFrame,
      idCol: String = "id", metaCols: Seq[String]): Boolean = {
    Similarity.requireMetaCols(metaCols)
    requirePqMetaCols(metaCols)
    PqFamily.backfillMetaCols(spark, path, meta, idCol, metaCols)
  }

  /** DELETE vectors from a stored IVFPQ index (r17): one tiny ledger
    * append; every [[pqTopKIndexed]] probe anti-joins the ledger out of
    * BOTH stages (codes, so deleted docs stop consuming ADC shortlist
    * budget, and vectors); [[purgePqDeletes]] reclaims the bytes. */
  def deleteFromPqIndex(ids: DataFrame, path: String,
      idCol: String = "id"): Unit =
    PqFamily.delete(ids, path, idCol)

  /** Physically remove tombstoned vectors from BOTH tables, then clear
    * the ledger ([[IndexMaintenance.Family.purge]]). Returns cells
    * rewritten per table. */
  def purgePqDeletes(spark: SparkSession, path: String,
      spreadFiles: Int = 0): (Int, Int) =
    pair(PqFamily.purge(spark, path, spreadFiles))

  /** Deterministic recovery after a crashed [[compactPqIndex]] /
    * [[compactPqResident]] / [[purgePqDeletes]] over both tables, and
    * the manual-lane rule for a crashed [[appendPqIndex]]: a lane in
    * both tables is adopted (do NOT retry it), a lane in only one is
    * deleted (DO retry it) — [[IndexMaintenance.Family.recover]]. */
  def recoverPqFold(spark: SparkSession, path: String): Option[String] =
    PqFamily.recover(spark, path)

  /** Layout health of both IVFPQ tables, in (codes, vectors) order. The
    * two normally move together; a divergence in `batchLeaves` means a
    * crash landed between the two table writes or folds — benign (heals
    * on replay / next compact), but visible here before it heals. */
  def pqIndexLayout(spark: SparkSession,
      path: String): (IndexLayoutStats, IndexLayoutStats) =
    pair(PqFamily.layouts(spark, path))

  /** One recommendation over both tables, judged on the worse one
    * ([[IndexMaintenance.Family.advice]]); pass `driftTripped` from the
    * ingest loop's [[shouldRetrain]] verdict. */
  def maintenanceAdvice(spark: SparkSession, path: String,
      driftTripped: Boolean = false, maxFilesPerCell: Int = 0,
      foldLeavesPerCell: Int = 2, spreadFiles: Int = 0,
      maxTombstones: Long = 100000L): MaintenanceAdvice =
    PqFamily.advice(spark, path, driftTripped, maxFilesPerCell,
      foldLeavesPerCell, spreadFiles, maxTombstones)

  /** The retrain TRIGGER the drift monitor feeds: quantization health of
    * `batch` under the stored model vs the build-time reference row.
    * Returns (retrain, coarse_fit, pq_err, ref_coarse_fit, ref_pq_err):
    * retrain = coarse_fit fell more than `fitDropTol` below the
    * reference, OR pq_err rose more than `errRiseFrac` (relative) above
    * it. Defaults are deliberately loose — quantization health decays
    * SLOWLY under real drift, and a retrain is a full index rebuild, so
    * the trigger should fire on structural change (measured at the 20 M
    * rung: a spectrally-shifted batch moved pq_err +55 % and coarse_fit
    * −23 % while an in-distribution batch moved neither). Indexes built
    * before r14 carry no reference row → fails with the remedy. */
  def shouldRetrain(batch: DataFrame, idCol: String, vecCol: String, path: String,
      fitDropTol: Double = 0.05, errRiseFrac: Double = 0.15): (Boolean, Double, Double, Double, Double) = {
    val (cents, model) = PqFamily.routing(batch.sparkSession, path)
    val (refFit, refErr) = loadPqDriftRef(batch.sparkSession, path)
    shouldRetrain(batch, idCol, vecCol, cents, model, refFit, refErr,
      fitDropTol, errRiseFrac)
  }

  /** The two-axis PQ retrain RULE itself — coarse-fit drop OR relative
    * reconstruction-error rise — factored to one place so this
    * operator's [[shouldRetrain]] and the streaming ingest's per-batch
    * verdict ([[graft.streaming.StreamingAnn]]) can never diverge. */
  private[graft] def pqRetrainRule(fit: Double, err: Double,
      refFit: Double, refErr: Double,
      fitDropTol: Double, errRiseFrac: Double): Boolean =
    Similarity.ivfRetrainRule(fit, refFit, fitDropTol) ||
      err > refErr * (1.0 + errRiseFrac)

  /** [[shouldRetrain]] against a caller-held model ([[loadPqIndexModel]])
    * and reference ([[loadPqDriftRef]]) — the per-batch cost is one
    * narrow pass over the BATCH. */
  def shouldRetrain(batch: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], model: PqModel, refFit: Double, refErr: Double,
      fitDropTol: Double, errRiseFrac: Double): (Boolean, Double, Double, Double, Double) = {
    val cur = indexDriftStats(batch, idCol, vecCol, cents, model).collect()(0)
    // an empty batch averages to null — surface the real problem, not an NPE
    require(cur.getLong(0) > 0, "empty batch — nothing to measure drift on")
    val (fit, err) = (cur.getDouble(1), cur.getDouble(2))
    (pqRetrainRule(fit, err, refFit, refErr, fitDropTol, errRiseFrac),
      fit, err, refFit, refErr)
  }

  /** The build-time (coarse_fit, pq_err) reference row [[writePqIndex]]
    * persists — what [[shouldRetrain]] compares appended batches against. */
  def loadPqDriftRef(spark: SparkSession, path: String): (Double, Double) = {
    val refPath = new org.apache.hadoop.fs.Path(s"$path/model/drift_ref")
    val fs = refPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(refPath),
      s"no drift reference at $path/model/drift_ref — the index predates the " +
        "r14 layout; rebuild with writePqIndex to record one")
    val ref = spark.read.parquet(s"$path/model/drift_ref").collect()(0)
    (ref.getDouble(1), ref.getDouble(2))
  }

  private def writeModel(spark: SparkSession, path: String,
      cents: Array[Array[Double]], model: PqModel): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model/centroids")
    (for (j <- 0 until model.m; c <- 0 until model.ksub)
      yield (j, c, model.codebooks(j)(c).toSeq)).toDF("j", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model/codebooks")
  }

  private def writeRows(batch: DataFrame, cId: String, cVec: String, path: String,
      cents: Array[Array[Double]], model: PqModel, mode: String,
      batchId: Long, spreadFiles: Int, metaCols: Seq[String] = Nil): Unit = {
    Similarity.requireMetaCols(metaCols)
    requirePqMetaCols(metaCols)
    // ONE fused pass computes cell + codes + norm per row. The previous
    // shape ran two UDFs (assign, encode) plus a norm expression — each
    // UDF re-deserializing the array (per-element boxing) and
    // re-normalizing, and the encode loop copied every subvector. At
    // index-build scale the corpus pass IS the cost, so: deserialize
    // once, normalize once, encode in place. `cn` reproduces VecNorm's
    // left-to-right summation bit-exactly, so stored norms (and every
    // downstream cosine) are unchanged.
    val rowUdf = udf { (v: Seq[Double]) =>
      val raw = v.toArray
      val x = Similarity.normalize(raw)
      var acc = 0.0d; var i = 0
      while (i < raw.length) { acc += raw(i) * raw(i); i += 1 }
      (Similarity.nearestCell(x, cents), encodeNormalized(model, x), math.sqrt(acc))
    }
    // metaCols (r18) ride BOTH tables: the codes copy lets a filtered
    // probe's predicate apply at the ADC stage (filtered-out rows never
    // consume shortlist budget — the tombstone lesson), the vectors
    // copy serves the shortlist-saturation path, which never reads codes
    val b = batch.select(col(cId).as("corpus_id") +:
        col(cVec).cast("array<double>").as("cv") +: metaCols.map(col): _*)
      .withColumn("s", rowUdf(col("cv")))
      // Cell-aligned exchange BEFORE the partitionBy writes: without it
      // every input task opens a file in every cell directory —
      // tasks × nlist × 2 tables ≈ 32 K small files at 64 × 256, and the
      // write cost goes FILE-COUNT-bound, not row-bound (measured at the
      // 20 M rung: appending 2 M rows cost the same 134 s as building
      // 18 M). Fan-out within a cell is BOUNDED, not 1 — see
      // [[Similarity.cellSpread]] for why exactly-one-file caps scan
      // parallelism at nlist when nlist < cores.
      .withColumn("cell", col("s._1"))
      .transform(Similarity.cellSpread(_, cents.length, spreadFiles = spreadFiles))
      .drop("cell")
      // both writes below consume the assignment — persist so the scan +
      // assign/encode pass runs once, not once per output table
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both tables carry the two-level cell=/ingest_batch= layout (r15;
    // -1 = build-time/resident rows) so streaming appends can be
    // batchId-keyed + replay-idempotent and compaction can fold ONLY
    // committed leaves — the [[Similarity.writeIvfIndex]] discipline.
    // Readers filter on `cell` only; the static IN-prune is unaffected.
    def write(df: DataFrame, table: String): Unit = {
      val keyed = df.withColumn("ingest_batch", lit(batchId))
      val w =
        if (mode == "dynamic")
          keyed.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        else keyed.write.mode(mode)
      w.partitionBy("cell", "ingest_batch").parquet(s"$path/$table")
    }
    try {
      write(b.select(col("s._1").as("cell") +: col("corpus_id") +:
        col("s._2").as("codes") +: metaCols.map(col): _*), "codes")
      write(b.select(col("s._1").as("cell") +: col("corpus_id") +: col("cv") +:
        col("s._3").as("cn") +: metaCols.map(col): _*), "vectors")
    } finally b.unpersist()
  }

  private def requirePqMetaCols(metaCols: Seq[String]): Unit =
    require(!metaCols.contains("codes") && !metaCols.contains("s"),
      "metaCols collide with the PQ layout's columns: codes/s are reserved")

  /** IVFPQ as a lifecycle family: `codes` (written first, so it also
    * carries the manual-lane watermark) and `vectors`. r15 changed the
    * stored layout from `partitionBy(cell)` to `partitionBy(cell,
    * ingest_batch)`, so the layout guard refuses a flat pre-r15 index
    * with the rebuild remedy. */
  private[graft] object PqFamily
      extends IndexMaintenance.Family[(Array[Array[Double]], PqModel)](
      Seq("codes", "vectors"), "cell", "corpus_id", "Rebuild the index with writePqIndex.") {
    def cells(spark: SparkSession, path: String): Int = routing(spark, path)._1.length
    protected def routingDirs = Seq("model/centroids" -> Similarity.CentroidSchema,
      "model/codebooks" -> CodebookSchema)
    protected def decodeRouting(rows: Seq[Array[org.apache.spark.sql.Row]]) =
      (Similarity.decodeCentroids(rows(0)), decodeModel(rows(1)))
  }

  private def pair[T](s: Seq[T]): (T, T) = (s(0), s(1))

  private[graft] def layoutChecksCount: Long = PqFamily.guard.count
  private[graft] def resetLayoutCheckCache(): Unit = PqFamily.guard.reset()

  /** Incremental append: assign + encode the batch against the STORED
    * model (no retrain — same drift contract as
    * [[Similarity.appendIvfIndex]]) and write it into both tables under
    * the next MANUAL lane, RETRY-IDEMPOTENT
    * ([[IndexMaintenance.Family.appendManual]]): a failed append retried
    * with the same batch reuses its lane, overwriting its own codes
    * leaves and writing the missing vectors leaves — a crash BETWEEN the
    * two table writes heals the same way the keyed replay does. A
    * codes-only orphan lane followed by a DIFFERENT batch is deleted
    * (pre-r17 those orphan codes rows sat in `-1` forever, wasting ADC
    * shortlist slots). Batch ids must be NEW to the index. For
    * exactly-once streaming ingest use [[appendPqIndexIdempotent]]. */
  def appendPqIndex(batch: DataFrame, cId: String, cVec: String, path: String,
      spreadFiles: Int = 0, metaCols: Seq[String] = Nil): Unit =
    PqFamily.appendManual(batch.select(col(cId).as("id")), path, metaCols) { lane =>
      val (cents, model) = PqFamily.routing(batch.sparkSession, path)
      writeRows(batch, cId, cVec, path, cents, model, "dynamic", lane, spreadFiles,
        metaCols)
    }

  /** Replay-idempotent append: the batch lands under
    * `cell=<c>/ingest_batch=<batchId>` leaves of BOTH tables via dynamic
    * partition overwrite, so a re-delivered foreachBatch id overwrites
    * its own leaves instead of appending twice. A crash BETWEEN the two
    * table writes also heals on replay: the re-delivered batch rewrites
    * its codes leaves and writes the missing vectors leaves. Fold
    * committed leaves with [[compactPqIndex]]. */
  def appendPqIndexIdempotent(batch: DataFrame, cId: String, cVec: String,
      path: String, batchId: Long, spreadFiles: Int = 0,
      metaCols: Seq[String] = Nil): Unit = {
    val (cents, model) = PqFamily.routing(batch.sparkSession, path)
    appendPqIndexIdempotent(batch, cId, cVec, path, cents, model, batchId,
      spreadFiles, metaCols)
  }

  /** [[appendPqIndexIdempotent]] with a caller-held model
    * ([[loadPqIndexModel]]); the overload above reads the stored one
    * from the index snapshot at no Spark job. */
  def appendPqIndexIdempotent(batch: DataFrame, cId: String, cVec: String,
      path: String, cents: Array[Array[Double]], model: PqModel, batchId: Long,
      spreadFiles: Int, metaCols: Seq[String]): Unit = {
    PqFamily.requireKeyedAppend(batch.select(col(cId).as("id")), path, batchId, metaCols)
    writeRows(batch, cId, cVec, path, cents, model, "dynamic", batchId, spreadFiles,
      metaCols)
  }

  /** The drift monitor the append contract promises: quantization health
    * of a batch under a STORED index's model, one row per batch —
    * compare against the build-time batch's row to decide when to
    * retrain. `coarse_fit` = mean cosine between a (normalized) vector
    * and its nearest coarse centroid (falls as the batch's cluster
    * structure drifts from the training sample's); `pq_err` = mean L2
    * reconstruction error of the PQ codes (rises as subspace
    * distributions drift). One narrow pass over the BATCH, two scalar
    * aggregates — cost is independent of the resident index. */
  def indexDriftStats(batch: DataFrame, idCol: String, vecCol: String,
      path: String): DataFrame = {
    val (cents, model) = PqFamily.routing(batch.sparkSession, path)
    indexDriftStats(batch, idCol, vecCol, cents, model)
  }

  /** [[indexDriftStats]] against a caller-held model ([[loadPqIndexModel]]). */
  def indexDriftStats(batch: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], model: PqModel): DataFrame = {
    val statsUdf = udf { (v0: Seq[Double]) =>
      val v = Similarity.normalize(v0.toArray)
      val cell = Similarity.nearestCell(v, cents)
      var fit = 0.0d; var j = 0
      while (j < v.length) { fit += v(j) * cents(cell)(j); j += 1 }
      val rec = decode(model, encode(model, v0.toArray))
      var err = 0.0d; j = 0
      while (j < v.length) { val d = v(j) - rec(j); err += d * d; j += 1 }
      (fit, math.sqrt(err))
    }
    batch.select(statsUdf(col(vecCol).cast("array<double>")).as("s"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("s._1")), 6).as("coarse_fit"),
        round(avg(col("s._2")), 6).as("pq_err"))
  }

  /** Query a stored IVFPQ index: probed cells push as partition filters
    * on BOTH the codes scan and the re-rank vectors scan (directory
    * pruning — each query touches nprobe/nlist of the index), ADC over
    * the codes table shortlists, exact cosine re-ranks. Results are
    * identical to [[ivfPqTopK]] with the same parameters (spec-pinned).
    * A budget k·refine that covers every probed candidate skips the ADC
    * stage outright (shortlist saturation — see the note in the body);
    * the answer is provably unchanged (spec-pinned at 2 M rows the cut
    * is 3.8×: SCALE.md r13).
    *
    * `minCandidates` (r19) is [[Similarity.ivfTopKIndexed]]'s
    * nprobe-widening contract, through the same loop
    * ([[Similarity.widenProbe]]) applied to the CODES census: nprobe
    * widens until every query's probed cells hold at least this many
    * filtered, non-tombstoned candidates (or every cell is probed) —
    * the guard against a selective `filter` silently thinning the ADC
    * shortlist. */
  def pqTopKIndexed(
      queries: DataFrame, qId: String, qVec: String,
      path: String, k: Int, nprobe: Int, refine: Int = 8,
      filter: Option[Column] = None, minCandidates: Int = 0): DataFrame = {
    require(refine >= 1, "refine must be >= 1")
    val spark = queries.sparkSession
    val (cents, model) = PqFamily.routing(spark, path)
    // tombstoned ids vanish from BOTH stages immediately; filtering
    // codes keeps deleted docs out of the ADC shortlist budget too
    val live = IndexMaintenance.dropTombstoned(spark,
      IndexMaintenance.ledgerRows(spark, path), "corpus_id")
    // the metadata predicate (r18 filtered search — columns stored by
    // writePqIndex(metaCols)) applies to BOTH stages like the
    // tombstones: at the ADC stage so filtered-out rows never consume
    // shortlist budget, and on the vectors side so the saturation path
    // (which never reads codes) filters too — pushdown in each scan
    def flt(df: DataFrame) = filter.map(df.filter).getOrElse(df)
    // the query side is small by contract (the `qv` broadcast below):
    // collected ONCE — a local frame collects with no job — and each
    // query's normalized vector and m×ksub ADC lookup table computed
    // here on the driver, once per query rather than per probe attempt
    val qs = Similarity.localQueries(queries, qId, qVec)
    val prepped = qs.rows.map { r =>
      val x = Similarity.normalize(r.getSeq[Double](1).toArray)
      (r, x, adcTable(model, x).toSeq)
    }
    // each table's file listing is captured under the snapshot gate
    // (marker + epoch validated on both sides, retry on a concurrent
    // maintenance window — see Similarity.ivfTopKIndexed): a folded
    // batch can never be visible twice in either scan. A codes/vectors
    // pair captured ACROSS a fold boundary (one table folded, the other
    // not) is benign — a fold moves rows between leaves of one table,
    // never changes them, and the ADC join keys on (cell, corpus_id).
    // The probe frame + filtered live codes at one nprobe setting —
    // built per widening attempt and once for the final plan. Same
    // load-bearing exchange as ivfPqTopK: materialize each query row's
    // lut ONCE (codegen otherwise re-evaluates it per candidate inside
    // the join's match loop when the codes side broadcasts) and spread
    // the ADC stage across partitions even when the caller's query
    // frame arrives as one.
    def at(np: Int): (DataFrame, DataFrame, Array[Int]) = {
      val probes = prepped.flatMap { case (r, x, lut) =>
        Similarity.probeCells(x, cents, np)
          .map(c => org.apache.spark.sql.Row(r.get(0), r.get(1), c, lut))
      }
      import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
      val q = qs.frame(probes, "cell" -> IntegerType, "lut" -> ArrayType(DoubleType))
        .select("query_id", "cell", "lut")
        .repartition(col("query_id"), col("cell"))
      // literal IN on the partition column -> static directory pruning
      // on both index scans; the cell set is RETURNED so the vectors
      // scan reuses it
      val probedCells = probes.map(_.getInt(2)).distinct
      (q, live(flt(PqFamily.readTable(spark, path, "codes")
        .filter(col("cell").isin(probedCells.toSeq: _*)))), probedCells)
    }
    val (q, codes, probedCells) = Similarity.widenProbe(nprobe, cents.length,
      minCandidates, qs)(at)(a => (a._1, a._2))
    val vectors = live(flt(PqFamily.readTable(spark, path, "vectors")
      .filter(col("cell").isin(probedCells.toSeq: _*))))
    // Shortlist-saturation skip: when k·refine covers every candidate
    // row in the probed cells, the ADC rank-and-truncate provably keeps
    // ALL of them — the whole ADC stage is a no-op — so the plan goes
    // straight to the exact re-rank, streaming the cell-pruned vectors
    // table against the tiny (query_id, cell) frame. That replaces
    // [score every candidate, per-query sort them all, broadcast a
    // corpus-sized shortlist] with [one pruned scan]: at the 2 M-vector
    // exhaustive oracle regime (refine = ceil(n/k)) this is the
    // difference between a corpus-sized broadcast hash table and none.
    // The census is a zero-column count over the pruned codes dirs
    // (parquet row-group metadata) and only runs when the budget clears
    // SaturationCheckFloor — small-regime calls, including the sf0.01
    // driver oracle that deliberately exercises the ADC path
    // end-to-end, never pay it and never skip.
    val budget = k.toLong * refine
    val saturated = budget >= SaturationCheckFloor && budget >= codes.count()
    val candidates =
      if (saturated)
        broadcast(q.select("query_id", "cell"))
          .join(vectors.select(col("cell"), col("corpus_id"), col("cv"), col("cn")), Seq("cell"))
          .filter(col("query_id") =!= col("corpus_id"))
      else {
        val shortlist = adcShortlist(q.join(codes, Seq("cell"))
          .filter(col("query_id") =!= col("corpus_id"))
          .withColumn("adc", adcCol(col("codes"), col("lut"), model.ksub)), budget)
        // same discipline as ivfPqTopK: the cold vectors table streams
        // (cell-pruned), the id-width shortlist broadcasts
        broadcast(shortlist).join(vectors.select("corpus_id", "cv", "cn"), Seq("corpus_id"))
      }
    val qv = broadcast(qs.frame(qs.rows.toSeq)
      .withColumn("qn", Similarity.l2norm(col("qv"))))
    Similarity.rankTopK(candidates
      .join(qv, Seq("query_id"))
      .withColumn("cosine",
        Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))), k)
  }
}
