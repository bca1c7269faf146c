package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), with a brute-force baseline and a random-hyperplane
  * LSH scale path. All math is `zip_with`/`aggregate` expressions
  * (whole-stage-codegen'd); no UDF in the hot path.
  */
object Similarity {

  // Native codegen'd Catalyst expressions, not zip_with/aggregate (those
  // run interpreted, ~10× slower) and not ScalaUDFs (those deserialize
  // every array into a Scala Seq per call — the graft.plans.VecDot /
  // VecNorm expressions read UnsafeArrayData in place inside
  // WholeStageCodegen). The summation order (sequential left fold) is
  // identical across all three forms, so results are bit-equal.
  // Mismatched dimensions fail loudly everywhere (dot, buckets, IVF):
  // truncating would silently score/bucket a corrupt vector.
  private def ex(c: Column) =
    org.apache.spark.sql.graftshim.ColumnShim.expression(c)
  private def asCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graftshim.ColumnShim.column(e)

  // array<float> (the common embedding storage type) upcasts here so all
  // entry points accept float or double vectors; the cast is a no-op in
  // the plan when the input is already array<double> (SimplifyCasts).
  private def asDouble(c: Column) = c.cast("array<double>")

  /** Dot product of two array<float|double> columns. */
  def dot(a: Column, b: Column): Column =
    asCol(graft.plans.VecDot(ex(asDouble(a)), ex(asDouble(b))))

  /** L2 norm of an array<float|double> column. */
  def l2norm(a: Column): Column = asCol(graft.plans.VecNorm(ex(asDouble(a))))

  /** Cosine similarity between two array<float|double> columns.
    * In pair joins prefer precomputing [[l2norm]] per vector once and
    * using `dot(a,b)/(norm_a*norm_b)` — this inline form re-derives both
    * norms for every pair. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Deterministic pseudo-random hyperplane matrix: component (p, j)
    * derives from an FNV-1a hash mapped to [-1, 1). Seeded and computed
    * once on the driver — identical everywhere, no Math.random. */
  def planeMatrix(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim) { (p, j) =>
      val h = graft.functions.GraftFunctions.fnv1a64(s"plane:$p:$j")
      (java.lang.Math.floorMod(h, 1000000L).toDouble / 500000.0d) - 1.0d
    }

  /** Scale-safe LSH geometry derived from corpus size and the working
    * cosine level — the guard against the measured 16×4 foot-gun (20 K
    * clustered 256-wide vectors under 4-bit bands ran 12+ minutes and
    * died; see SCALE.md r10 and [[Dedup.embeddingNearDups]]).
    *
    * Bits per band grow until `2^bits · targetBucket ≥ n` (the bucket
    * self-join is quadratic IN THE BUCKET, so expected bucket size is
    * the thing to bound); bands then recover recall at the given cosine
    * via the standard random-hyperplane collision model
    * (`P(bit match) = 1 − acos(cos)/π`, `P(hit) = 1−(1−s^bits)^bands`).
    * Both knobs are capped — bits ≤ 24 (signature cost is
    * `bits·bands·dim` multiply-adds per row, linear but real) and
    * bands ≤ 32 (past that, recall at a loose threshold is better
    * bought with an exact or IVF scan) — so extreme inputs degrade
    * recall gracefully instead of exploding cost. Deterministic:
    * same (n, cosine) → same geometry on every engine and rerun. */
  def autoLshGeometry(n: Long, cosine: Double, targetBucket: Long = 128L,
      recallTarget: Double = 0.95d): (Int, Int) = {
    require(n >= 0, "corpus size must be non-negative")
    var bits = 4
    while (bits < 24 && (1L << bits).toDouble * targetBucket < n.toDouble) bits += 1
    val s = 1.0d - math.acos(math.min(0.9999d, math.max(-1.0d, cosine))) / math.Pi
    val pBand = math.pow(s, bits)
    val bands = math.max(2, math.min(32,
      math.ceil(math.log1p(-recallTarget) / math.log1p(-pBand)).toInt))
    (bits * bands, bands)
  }

  /** Sign-bit signature under `planes` hyperplanes, sliced into `bands`
    * bucket keys. Output: (id, v, nrm, band, bucket) — one row per band.
    *
    * The signature is one tight UDF pass (planes×dim multiply-adds per
    * row): Spark's higher-order array functions are interpreted, not
    * whole-stage-codegen'd, so an expression form costs ~10× more than
    * this loop — measured, not guessed. */
  def hyperplaneBuckets(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planes: Int,
      bands: Int): DataFrame = {
    val bitsPerBand = planes / bands
    require(planes % bands == 0, "planes must divide into bands")
    val mat = planeMatrix(planes, dim)
    val buckets = udf { (v: Seq[Double]) =>
      val arr = v.toArray
      require(arr.length == dim,
        s"embedding dimension ${arr.length} != declared dim $dim")
      Array.tabulate(bands) { b =>
        var bucket = 0L
        var bit = 0
        while (bit < bitsPerBand) {
          val p = b * bitsPerBand + bit
          val plane = mat(p)
          var acc = 0.0d
          var j = 0
          while (j < dim) { acc += arr(j) * plane(j); j += 1 }
          if (acc >= 0) bucket |= (1L << bit)
          bit += 1
        }
        bucket
      }
    }
    Dedup.spread(df).select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .select(col("id"), col("v"), col("nrm"),
        posexplode(buckets(col("v"))).as(Seq("band", "bucket")))
  }

  /** Shared ranking tail for every top-k variant: a scored candidate
    * frame (query_id, corpus_id, cosine, …) → (query_id, corpus_id,
    * cosine rounded to 4, rank), keeping the top `k` per query under
    * (cosine desc, corpus_id asc).
    *
    * Fast path — the scale fix for the whole ANN family: when corpus_id
    * is BIGINT (every graft corpus), rank via the native
    * [[graft.plans.TopKByScore]] aggregate — per-key k-bounded heaps
    * with map-side partial merge (ObjectHashAggregate), so the exchange
    * carries at most partitions·k pairs per query instead of EVERY
    * candidate row, and no per-query full sort runs at all. The
    * row_number window it replaces shuffled all candidates to one task
    * per query and sorted them (O(C log C)); at 2 M candidates/query
    * and k = 5 that is 2 M shuffled rows vs ~160 heap entries. Exotic
    * id types keep the window (same answer; tie-compat spec-pinned).
    *
    * Null contract: rows with a null cosine (null input vector; or a
    * zero-norm vector under non-ANSI division — ANSI mode throws at the
    * Divide before ranking) or null corpus_id are excluded from ranking
    * in BOTH paths — a null score is an undefined pair, not a worst match.
    * The filter keeps the two paths answer-identical (the heap aggregate
    * drops nulls by construction; the window used to rank them last). */
  private[operators] def rankTopK(scored0: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val scored = scored0.filter(col("cosine").isNotNull && col("corpus_id").isNotNull)
    if (scored.schema("corpus_id").dataType == LongType) {
      scored.groupBy(col("query_id"))
        .agg(graft.plans.TopKByScore.topKCol(col("cosine"), col("corpus_id"), k).as("tk"))
        .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("query_id"), col("e.id").as("corpus_id"),
          round(col("e.score"), 4).as("cosine"),
          (col("pos") + 1).cast("int").as("rank"))
    } else {
      val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("corpus_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("corpus_id"),
          round(col("cosine"), 4).as("cosine"), col("rank"))
    }
  }

  /** Brute-force top-k: exact cosine of every (query, corpus) pair, then a
    * per-query bounded-heap rank ([[rankTopK]]). The corpus side of the
    * join should be the big one;
    * Spark broadcasts the query side when it is small (hint applied).
    * This is the *correctness baseline*: O(|Q|·|C|) — fine for |Q| small,
    * the standard evaluation harness shape.
    *
    * Id contract (all top-k variants here): queries are assumed to share
    * the corpus id namespace (self-search / subset-search), and a
    * query's own id is excluded from its results. When querying a
    * DIFFERENT table whose ids may collide with corpus ids, remap one
    * side first (e.g. negate or offset query ids) or a query will
    * silently lose the corpus row that shares its id. */
  def bruteForceTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int): DataFrame = {
    // Norms are per-vector, not per-pair: hoist them out of the join.
    val q = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
      .withColumn("qn", l2norm(col("qv"))))
    val c = corpus.select(col(cId).as("corpus_id"), col(cVec).as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    rankTopK(scored, k)
  }

  /** Train IVF coarse-quantizer centroids: Lloyd's k-means over a bounded,
    * deterministic sample (first `maxSample` vectors by id), spherical
    * variant (centroids re-normalized each round, assignment by dot
    * product = cosine). Driver-side by design: the sample is bounded
    * (`maxSample`×dim doubles), so training cost is independent of corpus
    * size — the standard IVF recipe (train on a sample, assign
    * distributed). Deterministic: sample order and init (every
    * (n/nlist)-th sample vector) are id-ordered, no RNG. */
  /** First `n` vectors by id, with the driver fetch bounded by n ROWS
    * rather than partitions·n: a bare `orderBy.limit(n).collect()` plans
    * as TakeOrderedAndProject, whose executeCollect pulls EVERY
    * partition's top-n to the driver — at dim 1024 over 32 input splits
    * that is ~1 GB of task results (it hit the maxResultSize wall, SCALE.md
    * "The ADC compute flip"; 2 000 cluster partitions would make it
    * 67 GB). Routing the limit through one exchange merges the
    * per-partition top-n on an EXECUTOR, so the driver fetches exactly
    * n rows no matter how the corpus is split. */
  private[operators] def firstVecsById(
      corpus: DataFrame, idCol: String, vecCol: String, n: Int): Array[Array[Double]] =
    corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy("id").limit(n).repartition(1)
      .collect().map(_.getSeq[Double](1).toArray)

  /** Split ONE fetched 2·maxSample-row sample into (train, driftRef).
    * Train = the first maxSample rows. The drift reference is the
    * REMAINDER when the corpus has enough of it (held-out — an in-sample
    * reference reads optimistically, most acutely on PQ reconstruction
    * error where the codebooks fit those exact vectors), else the train
    * rows themselves (toy corpora). "Enough" = at least maxSample/2: a
    * corpus of maxSample + 4 rows would otherwise yield a 4-vector
    * reference whose averaged (fit, err) is high-variance noise — worse
    * than the documented in-sample optimism. This is the ONE place the
    * held-out policy lives: builds (first-by-id fetch) and rebuilds
    * (hash-spread fetch) both route through it, so a threshold change
    * can never skew [[shouldRetrain]] baselines between a built and a
    * rebuilt index. */
  private[operators] def heldOutSplit(both: Array[Array[Double]],
      maxSample: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val train = both.take(maxSample)
    val heldOut = both.drop(maxSample)
    (train, if (heldOut.length >= math.max(1, maxSample / 2)) heldOut else train)
  }

  /** Hash-spread bounded sample: first `n` vectors in `xxhash64(id)`
    * order (id breaks hash ties), same bounded-driver-fetch discipline
    * as [[firstVecsById]]. Deterministic in the id SET but spread across
    * the whole corpus — the sampler a REBUILD needs: a drifted corpus's
    * first-by-id prefix is the stale build-time distribution, so a
    * rebuild that resampled it would retrain the very quantizer the
    * drift trigger just condemned. Builds over fresh corpora keep
    * first-by-id (reproducible against external fixtures); rebuilds
    * over self-keyed stored corpora use this. */
  private[operators] def hashSpreadVecsById(
      corpus: DataFrame, idCol: String, vecCol: String, n: Int): Array[Array[Double]] =
    corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(xxhash64(col("id")), col("id")).limit(n).repartition(1)
      .collect().map(_.getSeq[Double](1).toArray)

  def trainIvfCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 8, maxSample: Int = 4096): Array[Array[Double]] =
    trainIvfCentroidsFromSample(
      firstVecsById(corpus, idCol, vecCol, maxSample), nlist, iters)

  /** The Lloyd's loop of [[trainIvfCentroids]] over an already-fetched
    * raw sample (normalized here) — shared by build (first-by-id sample)
    * and rebuild (hash-spread sample). */
  private[operators] def trainIvfCentroidsFromSample(
      rawSample: Array[Array[Double]], nlist: Int, iters: Int): Array[Array[Double]] = {
    val sample = rawSample.map(normalize)
    require(sample.length >= nlist, s"need >= $nlist sample vectors, got ${sample.length}")
    var cents = Array.tabulate(nlist)(i => sample(i * sample.length / nlist).clone())
    var it = 0
    while (it < iters) {
      val dim = cents(0).length
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        val cell = nearestCell(v, cents)
        val s = sums(cell)
        var j = 0
        while (j < v.length) { s(j) += v(j); j += 1 }
        counts(cell) += 1
      }
      cents = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its centroid
        else normalize(sums(c))
      }
      it += 1
    }
    cents
  }

  private[operators] def normalize(v: Array[Double]): Array[Double] = {
    var acc = 0.0d; var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    val n = math.sqrt(acc)
    if (n == 0) v else { val out = new Array[Double](v.length); i = 0
      while (i < v.length) { out(i) = v(i) / n; i += 1 }; out }
  }

  /** Dot product requiring equal dimensions — a vector whose length differs
    * from the centroids' is corrupt input, and truncating would silently
    * assign it to an arbitrary cell. */
  private def dotStrict(v: Array[Double], ct: Array[Double]): Double = {
    require(v.length == ct.length,
      s"embedding dimension ${v.length} != centroid dimension ${ct.length}")
    var acc = 0.0d; var j = 0
    while (j < v.length) { acc += v(j) * ct(j); j += 1 }
    acc
  }

  private[operators] def nearestCell(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity; var c = 0
    while (c < cents.length) {
      val acc = dotStrict(v, cents(c))
      if (acc > bestDot) { bestDot = acc; best = c }
      c += 1
    }
    best
  }

  /** The cells a normalized query probes: the top `np` by dot with the
    * centroids, ties to the lower cell (the sort is stable). Every probe
    * picks its cells here, so a query whose dimension differs from the
    * centroids' fails loudly in all of them. */
  private[operators] def probeCells(x: Array[Double], cents: Array[Array[Double]],
      np: Int): Array[Int] =
    Array.tabulate(cents.length)(c => (dotStrict(x, cents(c)), c))
      .sortBy(-_._1).take(np).map(_._2)

  /** The corpus-side cell assignment: each vector's nearest centroid,
    * after normalizing. nlist×dim doubles ride the task closure — a few
    * KB, no broadcast needed. */
  private[operators] def cellUdf(cents: Array[Array[Double]]) =
    udf { (v: Seq[Double]) => nearestCell(normalize(v.toArray), cents) }

  /** IVF (inverted-file) approximate top-k — the second scale path next
    * to LSH: a coarse quantizer (spherical k-means, trained on a bounded
    * sample) partitions the corpus into `nlist` cells ONCE (write-side
    * and reusable at scale, like the LSH buckets); each query probes only
    * its `nprobe` nearest cells, so candidate volume is ~nprobe/nlist of
    * the corpus and the only shuffle keys on cell ids. Exact cosine
    * re-ranks candidates. Recall tunes with nprobe (= nlist recovers
    * brute force). */
  def ivfTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 8, maxSample: Int = 4096): DataFrame = {
    val cents = trainIvfCentroids(corpus, cId, cVec, nlist, iters, maxSample)
    val probeUdf = udf { (v: Seq[Double]) => probeCells(normalize(v.toArray), cents, nprobe) }
    val c = corpus.select(col(cId).as("corpus_id"), col(cVec).as("cv"))
      .withColumn("cell", cellUdf(cents)(col("cv")))
      .withColumn("cn", l2norm(col("cv")))
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
      .withColumn("cell", explode(probeUdf(col("qv"))))
      .withColumn("qn", l2norm(col("qv")))
    rankTopK(q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      // a corpus vector lives in exactly one cell -> no candidate dedup needed
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn"))), k)
  }

  /** Persist an IVF index: the corpus, assigned to cells and laid out
    * `partitionBy("cell")`, plus the centroid table — the materialize-
    * once artifact the ivfTopK doc promises. Queries against the stored
    * index read ONLY their probed cells' directories: the probe side is
    * a small broadcast, so dynamic partition pruning (or the static
    * IN-filter [[ivfTopKIndexed]] states explicitly) drops every
    * unprobed cell at the scan — at 100 TB the index costs one
    * assignment pass to build and each query touches nprobe/nlist of
    * the data. Norms are precomputed into the index (never recomputed
    * per query). */
  def writeIvfIndex(
      corpus: DataFrame, cId: String, cVec: String, path: String,
      nlist: Int = 16, iters: Int = 8, maxSample: Int = 4096,
      spreadFiles: Int = 0, metaCols: Seq[String] = Nil): Unit = {
    // ONE bounded fetch serves both the trainer and the build-time drift
    // reference (the PQ twin stores one too): fit of a HELD-OUT batch
    // when the corpus allows (r15 — an in-sample reference reads
    // optimistically; see [[heldOutSplit]]), else the training sample.
    // What [[shouldRetrain]] compares appended batches against.
    val both = firstVecsById(corpus, cId, cVec, 2 * maxSample)
    val (train, ref) = heldOutSplit(both, maxSample)
    val cents = trainIvfCentroidsFromSample(train, nlist, iters)
    writeIvfIndexParts(corpus, cId, cVec, path, cents, ref, spreadFiles, metaCols)
  }

  /** The write half of [[writeIvfIndex]] against an ALREADY-trained
    * quantizer and reference batch — shared by build and
    * [[rebuildIvfIndex]] (which must sample differently; see
    * [[hashSpreadVecsById]]). */
  private def writeIvfIndexParts(
      corpus: DataFrame, cId: String, cVec: String, path: String,
      cents: Array[Array[Double]], refVecs: Array[Array[Double]],
      spreadFiles: Int, metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    requireMetaCols(metaCols) // validate BEFORE any destructive step
    // a build at this path is the ledger reset — stale tombstones from
    // a previous index here would hide freshly built vectors
    IndexMaintenance.clearDeletes(spark, path)
    // ... and records the metadata contract every append must match
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexMaintenance.writeMetaColsFile(fs, path, metaCols)
    // the layout carries a second partition column, ingest_batch (-1 =
    // build-time rows), purely so streaming appends can be batchId-keyed
    // and replay-idempotent ([[appendIvfIndexIdempotent]]); readers
    // filter on `cell` only, and the static IN-prune is unaffected.
    // `metaCols` (r18) are stored INLINE with every row — what makes
    // [[ivfTopKIndexed]]'s `filter` a parquet-pushed predicate inside
    // the pruned cells instead of a corpus-sized join at probe time
    corpus.select(col(cId).as("corpus_id") +:
        col(cVec).cast("array<double>").as("cv") +: metaCols.map(col): _*)
      .withColumn("cell", cellUdf(cents)(col("cv")))
      .withColumn("cn", l2norm(col("cv")))
      .withColumn("ingest_batch", lit(-1L))
      // cell-aligned exchange before the partitionBy write (see
      // [[cellSpread]] for the two failure modes this brackets)
      .transform(cellSpread(_, cents.length, spreadFiles = spreadFiles))
      .write.mode("overwrite").partitionBy("cell", "ingest_batch")
      .parquet(s"$path/corpus")
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    ivfDriftStats(
      refVecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
        .toDF("vec_id", "v"), "vec_id", "v", cents)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/drift_ref")
    // again after the tables: moves the snapshot's schema key past any
    // schema a probe read while they were being rewritten
    IndexMaintenance.writeMetaColsFile(fs, path, metaCols)
  }

  /** Rebuild a stored IVF index from its own corpus — the MAJOR
    * compaction, and the remedy [[shouldRetrain]]'s verdict demands:
    * retrain the quantizer on the CURRENT corpus (build rows + every
    * appended batch), reassign every row, and write a fresh index —
    * new corpus layout, new centroids, new drift reference — at
    * `newPath`. Everything a rebuild must fix, it fixes at once: cell
    * boundaries re-center on the drifted distribution, the `-1` layer's
    * fold-accrued files flatten back to one cell-spread bound, unfolded
    * batch leaves fold away, and the drift reference re-baselines so
    * the trigger measures the NEXT drift, not the one just absorbed.
    *
    * BUILD-ASIDE, never in place: at 100 TB an in-place rebuild is an
    * unrecoverable hours-long window where the only index copy is
    * half-rewritten; writing beside and flipping the caller's path is
    * the blue/green shape where a crash costs a restartable rebuild and
    * the live index never stops serving. Hence `newPath != path` is
    * REQUIRED, and the old index stays untouched and queryable
    * throughout — delete it after the flip. (The streaming recipe:
    * stop the ingest, rebuild, restart pointing at `newPath` — a
    * rebuild mid-stream would break the single-writer contract.)
    *
    * Sampling: the retrain sample is HASH-SPREAD over the stored corpus
    * ([[hashSpreadVecsById]]), not first-by-id — a drifted corpus's
    * id-prefix is exactly the stale distribution the trigger condemned,
    * so resampling it would reproduce the old quantizer. The new drift
    * reference is held out from the retrain sample (same discipline as
    * [[writeIvfIndex]]'s [[heldOutSplit]]).
    *
    * `nlist = 0` keeps the stored geometry; pass it explicitly to
    * co-scale cells with the grown corpus (the nlist ∝ corpus knob the
    * 50 M rung pins — a rebuild is precisely when an operator turns it).
    * Cost: one corpus read + one corpus write + bounded training, the
    * irreducible price of re-centering; it amortizes over the thousands
    * of batch-priced folds between drift verdicts. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newPath: String, nlist: Int = 0, iters: Int = 8,
      maxSample: Int = 4096, spreadFiles: Int = 0): Unit = {
    require(newPath != path,
      s"rebuild is build-aside: newPath must differ from the live index ($path); " +
        "flip readers to newPath after the rebuild, then delete the old index")
    // the live, tombstone-filtered rows (the retrain sample included),
    // read behind the reader gate; stored metadata columns (r18 filtered
    // probes) are kept — only the derived layout columns are recomputed
    val corpus = IvfFamily.liveRows(spark, path, "corpus")
      .drop("cn", "cell", "ingest_batch")
    val nl = if (nlist > 0) nlist else IvfFamily.cells(spark, path)
    val both = hashSpreadVecsById(corpus, "corpus_id", "cv", 2 * maxSample)
    val (train, ref) = heldOutSplit(both, maxSample)
    val cents = trainIvfCentroidsFromSample(train, nl, iters)
    writeIvfIndexParts(corpus, "corpus_id", "cv", newPath, cents, ref, spreadFiles,
      metaCols = corpus.columns.filterNot(Set("corpus_id", "cv")).toSeq)
  }

  /** Backfill METADATA columns onto a stored IVF index (r19) — the
    * upgrade path for filtered search ([[ivfTopKIndexed]]'s `filter`)
    * on an index built BEFORE metaCols existed, or one that needs a
    * new predicate column: one id-keyed column join + corpus republish
    * instead of the full rebuild (re-train + re-assign) that was the
    * only remedy before. `meta` holds ONE row per id covering every
    * live row (both enforced loudly — a missing row would land NULL
    * metadata that filtered probes silently drop); new columns ADD to
    * any already-stored set; the `_meta_cols` contract updates so
    * appends must carry the union from here on. Crash-recoverable
    * (rerun completes — [[IndexMaintenance.backfillTableMetaCols]]),
    * tombstones respected (rows keep riding the ledger; coverage is
    * live-rows-only). A flat pre-r12 corpus refuses with the rebuild
    * remedy before anything is written. Returns true when rows were
    * rewritten. Offline maintenance under the single-writer contract. */
  def backfillMetaCols(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: DataFrame, idCol: String = "id",
      metaCols: Seq[String]): Boolean = {
    requireMetaCols(metaCols)
    IvfFamily.backfillMetaCols(spark, path, meta, idCol, metaCols)
  }

  /** The IVF retrain RULE itself — fit fell more than the tolerance
    * below the build-time reference — factored to one place so the
    * operator's [[shouldRetrain]] and the streaming ingest's per-batch
    * verdict ([[graft.streaming.StreamingAnn]], which computes the stats
    * row itself to avoid a second batch scan) can never diverge. */
  private[graft] def ivfRetrainRule(fit: Double, refFit: Double,
      fitDropTol: Double): Boolean = fit < refFit - fitDropTol

  /** Retrain trigger for plain IVF indexes — [[Pq.shouldRetrain]]'s
    * sibling (no pq_err axis: plain IVF re-ranks with exact dots, so
    * the only drift that costs recall is coarse-assignment drift).
    * Returns (retrain, coarse_fit, ref_coarse_fit); retrain = the
    * batch's fit fell more than `fitDropTol` below build-time. Indexes
    * built before r14 carry no reference row → fails with the remedy. */
  def shouldRetrain(batch: DataFrame, idCol: String, vecCol: String, path: String,
      fitDropTol: Double = 0.05): (Boolean, Double, Double) =
    shouldRetrain(batch, idCol, vecCol,
      IvfFamily.routing(batch.sparkSession, path),
      loadIvfDriftRef(batch.sparkSession, path), fitDropTol)

  /** [[shouldRetrain]] against caller-held centroids and reference fit
    * — the streaming form ([[graft.streaming.StreamingAnn]] reads the
    * centroids from the index snapshot and the reference once per
    * stream); the per-batch cost is one narrow pass over the BATCH. */
  def shouldRetrain(batch: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], refFit: Double,
      fitDropTol: Double): (Boolean, Double, Double) = {
    val cur = ivfDriftStats(batch, idCol, vecCol, cents).collect()(0)
    // an empty batch averages to null — surface the real problem, not an NPE
    require(cur.getLong(0) > 0, "empty batch — nothing to measure drift on")
    val fit = cur.getDouble(1)
    (ivfRetrainRule(fit, refFit, fitDropTol), fit, refFit)
  }

  /** The build-time drift reference fit ([[writeIvfIndex]] persists it)
    * — the "healthy" coarse_fit [[shouldRetrain]] compares against. */
  def loadIvfDriftRef(spark: org.apache.spark.sql.SparkSession,
      path: String): Double = {
    val refPath = new org.apache.hadoop.fs.Path(s"$path/drift_ref")
    val fs = refPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(refPath),
      s"no drift reference at $path/drift_ref — the index predates the " +
        "r14 layout; rebuild with writeIvfIndex to record one")
    spark.read.parquet(s"$path/drift_ref").collect()(0).getDouble(1)
  }

  /** Incremental append into a stored IVF index ([[writeIvfIndex]]):
    * assign the batch's vectors against the index's EXISTING centroids
    * (loaded from `path`, no retrain) and append them into the same
    * `partitionBy("cell")` layout — the ANN counterpart of
    * [[Dedup.incrementalExact]]: per-batch cost is one assignment pass
    * over the BATCH, never a corpus rebuild.
    *
    * Drift bound: the quantizer stays the one trained at build time, so
    * recall at a given nprobe degrades only as far as the appended
    * distribution drifts from the training sample's — cells get fuller,
    * never re-centered. For stationary corpora (the common ingest case)
    * results are exactly what a fresh build with those centroids would
    * produce; at nprobe = nlist results are ALWAYS exact regardless of
    * drift, because every cell is probed. Retrain by rebuilding when the
    * drift monitor ([[ivfDriftStats]]; PQ twin [[Pq.indexDriftStats]])
    * degrades vs the build-time reference row. */
  def appendIvfIndex(batch: DataFrame, cId: String, cVec: String, path: String): Unit =
    appendIvfIndex(batch, cId, cVec, path, IvfFamily.routing(batch.sparkSession, path))

  /** [[appendIvfIndex]] with caller-held centroids ([[loadIvfCentroids]]).
    * The path overload reads them from the index snapshot at no Spark
    * job, so this form is only needed to assign against centroids other
    * than the stored ones' current state.
    *
    * RETRY-IDEMPOTENT (r17 — the lexical family's manual-lane shape,
    * closing the adjudicated asymmetry): the batch is auto-assigned the
    * next id in the manual lane ([[IndexMaintenance.ManualLaneFloor]]+,
    * disjoint from foreachBatch ids by construction), written via
    * dynamic partition overwrite, and the `_manual_watermark` file
    * advances only AFTER the write — a failed append retried with the
    * same batch reuses its lane and overwrites its own leaves, so a
    * vector can never land twice (pre-r17, a retried keyless append
    * blind-appended into `-1` and duplicates could surface twice in a
    * top-k). A crash followed by a DIFFERENT batch is guarded the same
    * way as the lexical lane: the orphan's id-set fingerprint decides
    * retry vs adopt-and-fresh-lane (an orphan's rows are complete and
    * probe-visible; adoption just advances the watermark). Batch ids
    * must be NEW to the index. Fold manual lanes with
    * [[compactIvfIndex]] by passing a watermark at or above them — only
    * when the caller knows no retry of them can follow (folding erases
    * the lane a retry would overwrite). */
  def appendIvfIndex(batch: DataFrame, cId: String, cVec: String, path: String,
      cents: Array[Array[Double]], spreadFiles: Int = 0,
      metaCols: Seq[String] = Nil): Unit =
    IvfFamily.appendManual(batch.select(col(cId).as("id")), path, metaCols)(
      writeLane(batch, cId, cVec, path, cents, _, spreadFiles, metaCols))

  /** Assign the batch against `cents` and land it under the
    * `cell=<c>/ingest_batch=<lane>` leaves by DYNAMIC partition
    * overwrite — a lane written again overwrites its own leaves. The
    * overwrite mode is a WRITER option, not a session config, so
    * concurrent static-overwrite users are unaffected. */
  private def writeLane(batch: DataFrame, cId: String, cVec: String,
      path: String, cents: Array[Array[Double]], lane: Long,
      spreadFiles: Int, metaCols: Seq[String]): Unit =
    assigned(batch, cId, cVec, cents, metaCols)
      .withColumn("ingest_batch", lit(lane))
      // bounded files per cell, not tasks × nlist
      .transform(cellSpread(_, cents.length, spreadFiles = spreadFiles))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell", "ingest_batch")
      .parquet(s"$path/corpus")

  /** IVF as a lifecycle family: the one-table case. The corpus layout
    * went from `partitionBy(cell)` to `partitionBy(cell, ingest_batch)`
    * in r12 (for replay-idempotent streaming appends), so the layout
    * guard refuses a pre-r12 corpus with the rebuild remedy. */
  private[graft] object IvfFamily extends IndexMaintenance.Family[Array[Array[Double]]](
      Seq("corpus"), "cell", "corpus_id", "Rebuild the index with writeIvfIndex.") {
    def cells(spark: org.apache.spark.sql.SparkSession, path: String): Int =
      routing(spark, path).length
    protected def routingDirs = Seq("centroids" -> CentroidSchema)
    protected def decodeRouting(rows: Seq[Array[org.apache.spark.sql.Row]]) =
      decodeCentroids(rows.head)
  }

  /** How [[writeIvfIndex]] (and the IVFPQ model) store centroids. */
  private[operators] val CentroidSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("centroid",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))

  /** Centroid rows → the cell-ordered centroid array (sorted on the
    * driver: nlist rows). */
  private[operators] def decodeCentroids(rows: Array[org.apache.spark.sql.Row]): Array[Array[Double]] =
    rows.sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** Test seam: count of FS-listing layout checks actually performed —
    * lets a spec prove a multi-batch stream listed the layout once. */
  private[graft] def layoutChecksCount: Long = IvfFamily.guard.count
  private[graft] def resetLayoutCheckCache(): Unit = IvfFamily.guard.reset()

  /** Replay-idempotent append for exactly-once streaming ingest: the
    * batch lands under `cell=<c>/ingest_batch=<batchId>` leaf directories
    * via DYNAMIC partition overwrite, so a re-delivered foreachBatch id
    * (crash between append and checkpoint commit) overwrites its own
    * leaves instead of appending twice — the index converges to the
    * exactly-once state no matter where the failure fell. Structured
    * Streaming guarantees a replayed batchId carries the same rows, which
    * is what makes overwrite-by-batch equal to exactly-once.
    *
    * `batchId` must be ≥ 0 (foreachBatch ids are) and below
    * [[IndexMaintenance.ManualLaneFloor]] (that lane belongs to
    * [[appendIvfIndex]]): -1 is reserved for build-time/resident rows,
    * which an idempotent replay must never overwrite. The overwrite mode
    * is a WRITER option, not a session config — concurrent
    * static-overwrite users are unaffected. */
  def appendIvfIndexIdempotent(batch: DataFrame, cId: String, cVec: String,
      path: String, cents: Array[Array[Double]], batchId: Long,
      spreadFiles: Int = 0, metaCols: Seq[String] = Nil): Unit = {
    IvfFamily.requireKeyedAppend(batch.select(col(cId).as("id")), path, batchId, metaCols)
    writeLane(batch, cId, cVec, path, cents, batchId, spreadFiles, metaCols)
  }

  /** Compact a streamed-into IVF index — INCREMENTALLY: fold every batch
    * leaf with `0 ≤ ingest_batch ≤ committedBatchId` into the build
    * layer's `ingest_batch=-1` leaves, leaving NEWER batch leaves AND
    * the resident `-1` files untouched. A long-running ingest accrues
    * cells × batches leaf directories — each append writes a bounded
    * file set per cell, so ten thousand triggers at nlist 256 is
    * millions of files; the fold returns those batches to the build
    * layer at a cost that scales with the FOLDED BATCHES, not the
    * resident index (the r14 version rewrote the whole corpus per fold
    * — O(index²/N) lifetime I/O under `appendBatches(compactEvery=N)`).
    * The `-1` layer accrues one bounded file set per fold; when that
    * warrants flattening, [[compactIvfResident]] rewrites just the
    * over-bound cells (the stationary-stream remedy — batch-priced, no
    * retrain), and a DRIFTED corpus rebuilds — a rebuild retrains AND
    * re-lays-out, and there [[shouldRetrain]] demands one anyway.
    *
    * Replay safety: [[appendIvfIndexIdempotent]]'s exactly-once story
    * relies on a re-delivered batchId OVERWRITING its own leaves, so
    * folding a batch that could still replay would duplicate it (the
    * folded copy survives the overwrite). The caller passes the
    * stream's checkpoint-COMMITTED batch id — Structured Streaming
    * never re-delivers a committed batch — and only those leaves fold.
    *
    * Crash safety: the fold is marker-staged and never renames the live
    * corpus ([[IndexMaintenance]] — the r14 rename-swap's no-live-corpus
    * crash window is gone). Any interruption leaves deterministic
    * debris that [[recoverIvfFold]] repairs; readers and appenders
    * refuse loudly until it has. Single-writer contract: no concurrent
    * append during the fold (in-stream use runs it on the ingest
    * thread, which satisfies this by construction). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      committedBatchId: Long, spreadFiles: Int = 0): Unit =
    IvfFamily.fold(spark, path, committedBatchId, spreadFiles)

  /** Minor compaction of a stored IVF index's RESIDENT (`ingest_batch=-1`)
    * layer: rewrite each cell whose resident file count exceeds
    * `maxFilesPerCell` back to one spread-bound's worth of files, leaving
    * every under-bound cell's files byte-untouched. This is the remedy
    * the STATIONARY stream needs: each [[compactIvfIndex]] fold adds
    * ≤ [[cellSpreadBound]] files per cell, and the only previous
    * flattening remedy was a rebuild the drift trigger would never
    * demand on an undrifted corpus. Cost scales with the ACCRUED cells'
    * data, not the index — a skewed ingest that accrues files in a few
    * hot cells pays only for those cells. Marker-staged through the same
    * [[IndexMaintenance]] protocol as the fold, so [[recoverIvfFold]]
    * repairs a crash and readers/appenders refuse until it has.
    *
    * `maxFilesPerCell = 0` derives the threshold as 2× this session's
    * [[cellSpreadBound]] — i.e. compact a cell once it carries more than
    * one extra fold's worth of accrual; sessions that pinned
    * `spreadFiles` should pass `2 * spreadFiles` explicitly. Returns
    * the number of cells compacted. Single-writer contract. */
  def compactIvfResident(spark: org.apache.spark.sql.SparkSession,
      path: String, maxFilesPerCell: Int = 0, spreadFiles: Int = 0): Int =
    IvfFamily.compactResident(spark, path, maxFilesPerCell, spreadFiles).head

  /** DELETE vectors from a stored IVF index (r17) — tombstone-first:
    * the ids land in the index's `deletes` ledger, every
    * [[ivfTopKIndexed]] probe anti-joins them out (broadcast — the
    * ledger is driver-small by contract), and [[purgeIvfDeletes]]
    * reclaims the bytes later. The delete itself is one tiny append —
    * no index rewrite, no stats dance, crash-safe by construction (the
    * ledger append either lands or it didn't; re-appending is harmless,
    * the ledger dedups). Deleting an id not in the index is a no-op at
    * probe time. `ids` must carry one column named by `idCol`. */
  def deleteFromIvfIndex(ids: DataFrame, path: String,
      idCol: String = "id"): Unit =
    IvfFamily.delete(ids, path, idCol)

  /** Physically remove tombstoned vectors (r17): rewrite every resident
    * cell with the ledger anti-joined out (marker-staged through the
    * fold protocol — [[recoverIvfFold]] heals a crash), then clear the
    * ledger. Requires every TOMBSTONED row to be folded — a deleted row
    * still sitting in an unfolded lane would survive the rewrite and
    * resurface once the ledger cleared. The gate is the precise one
    * (r18, [[IndexMaintenance.tombstonesUnfolded]] — it checks the
    * tombstoned ROWS, not the layout): r17 demanded zero batch leaves
    * outright, which a live ingest stream never satisfies, so the purge
    * could not run in-stream at all. Probes stay correct the whole time
    * — before the purge the anti-join hides the rows, after it the rows
    * are gone; a crash between the rewrite and the ledger clear just
    * leaves a no-op anti-join in place. The ledger is read and joined
    * distributed, so a purge runs even past the probes' driver-rows
    * cap. Returns cells rewritten (0 = no ledger). Single-writer
    * contract. */
  def purgeIvfDeletes(spark: org.apache.spark.sql.SparkSession,
      path: String, spreadFiles: Int = 0): Int =
    IvfFamily.purge(spark, path, spreadFiles).head

  /** One maintenance recommendation for a stored IVF index — the three
    * signals ("fold when leaves accrue, compact when files accrue,
    * rebuild when drift trips") as API instead of prose; see
    * [[MaintenanceAdvice]] for the precedence contract. Layout-stats-
    * priced: one driver-side FS walk, no data read. Pass the drift
    * verdict your ingest loop already has from [[shouldRetrain]]
    * (`driftTripped = verdict._1`); omit it for the stationary shape
    * where drift never trips and the layout signals are the whole
    * story. Thresholds mirror the compaction defaults:
    * `maxFilesPerCell = 0` derives 2× the spread bound (one fold's
    * accrual tolerated — [[compactIvfResident]]'s default), and
    * `foldLeavesPerCell` tolerates that many unfolded batches' worth
    * of leaf dirs (default 2, the `compactEvery = 3` cadence's
    * worst healthy state). */
  def maintenanceAdvice(spark: org.apache.spark.sql.SparkSession,
      path: String, driftTripped: Boolean = false,
      maxFilesPerCell: Int = 0, foldLeavesPerCell: Int = 2,
      spreadFiles: Int = 0, maxTombstones: Long = 100000L): MaintenanceAdvice =
    IvfFamily.advice(spark, path, driftTripped, maxFilesPerCell,
      foldLeavesPerCell, spreadFiles, maxTombstones)

  /** Deterministic recovery after a crashed [[compactIvfIndex]] /
    * [[compactIvfResident]] (or a crash under the pre-r15 rename-swap):
    * rolls an interrupted maintenance op back or forward, whichever the
    * on-disk markers prove safe. Also ADOPTS an orphan manual lane — a
    * crashed [[appendIvfIndex]] whose corpus write committed but whose
    * watermark never advanced (r17, [[Curation.recoverBm25Index]]'s
    * contract on the ANN side): the lane's rows are complete and
    * already probe-visible, so adoption just advances the watermark.
    * Recovery and retry are ALTERNATIVE remedies — after recovery, do
    * not retry the adopted batch (it is in the index; the next append
    * of it would duplicate). Idempotent; returns what was repaired,
    * None when clean. */
  def recoverIvfFold(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] =
    IvfFamily.recover(spark, path)

  /** Layout health of a stored IVF index ([[IndexLayoutStats]] over its
    * corpus table) — the maintenance loop's third signal, next to the
    * drift monitor (when to retrain) and the retrain verdict's remedy
    * (rebuild): `batchLeaves`/`batchFiles` say when a fold pays, and
    * `maxResidentFilesPerCell` against [[cellSpreadBound]] says how much
    * fold-file accrual the `-1` layer carries. One driver-side FS walk
    * (the same enumeration a fold performs), no data read. */
  def ivfIndexLayout(spark: org.apache.spark.sql.SparkSession,
      path: String): IndexLayoutStats =
    IvfFamily.layouts(spark, path).head

  private def assigned(batch: DataFrame, cId: String, cVec: String,
      cents: Array[Array[Double]], metaCols: Seq[String] = Nil): DataFrame = {
    requireMetaCols(metaCols)
    batch.select(col(cId).as("corpus_id") +:
        col(cVec).cast("array<double>").as("cv") +: metaCols.map(col): _*)
      .withColumn("cell", cellUdf(cents)(col("cv")))
      .withColumn("cn", l2norm(col("cv")))
  }

  /** Metadata columns ride the corpus rows verbatim, so they must not
    * collide with the layout's own columns. An index's appends must
    * carry the SAME metaCols as its build — parquet reads resolve one
    * file's schema, so a column present in some files and absent in
    * others reads as null for the absent rows (a filter then silently
    * drops them). */
  private[operators] def requireMetaCols(metaCols: Seq[String]): Unit = {
    val reserved = Set("corpus_id", "cv", "cn", "cell", "ingest_batch")
    val bad = metaCols.filter(reserved)
    require(bad.isEmpty,
      s"metaCols collide with the index layout's columns: ${bad.mkString(", ")}")
  }

  /** Cell-aligned exchange for index writes, with bounded intra-cell
    * fan-out. Two failure modes bracket this:
    * - NO alignment: every input task opens a file in every cell dir —
    *   tasks × nlist small files, write goes file-count-bound (measured
    *   7.2× on append at the 20 M rung, SCALE.md r14);
    * - alignment to EXACTLY one file per cell: when nlist < cores the
    *   whole index is nlist files and every full-probe scan caps at
    *   nlist-way parallelism (measured at the 2 M batch lab, nlist 16
    *   on 32 cores: stored-IVF batch-1000 probe 48 → 154 s).
    * So: S = ceil(2·defaultParallelism / nlist) files per cell — S = 1
    * whenever nlist already covers the machine (the production regime),
    * S > 1 only to restore parallelism on small indexes; total files
    * stay ≤ nlist·S ≈ 2·cores beyond nlist, never tasks × nlist. The
    * salt is a deterministic id hash, so the layout is reproducible
    * within a session — `spreadFiles > 0` pins S explicitly, making the
    * layout reproducible ACROSS environments too (the derived S depends
    * on the writing session's parallelism). */
  private[operators] def cellSpread(df: DataFrame, nlist: Int,
      idCol: String = "corpus_id", spreadFiles: Int = 0,
      keyCol: String = "cell"): DataFrame = {
    require(spreadFiles >= 0, s"spreadFiles must be >= 0 (0 = derive): $spreadFiles")
    val par = df.sparkSession.sparkContext.defaultParallelism
    val s = if (spreadFiles > 0) spreadFiles
      else math.max(1, (2 * par + nlist - 1) / nlist)
    if (s <= 1) df.repartition(col(keyCol))
    else df.repartition(nlist * s, col(keyCol), pmod(xxhash64(col(idCol)), lit(s)))
  }

  /** The bound on files per cell a [[cellSpread]] write may produce on
    * this session — PUBLIC because it is the threshold the layout-health
    * advice compares against ([[ivfIndexLayout]]'s
    * `maxResidentFilesPerCell` accrues in multiples of it; a rebuild
    * flattens back to one). Sessions that pinned `spreadFiles` compare
    * against that pin instead. */
  def cellSpreadBound(spark: org.apache.spark.sql.SparkSession,
      nlist: Int): Int =
    math.max(1, (2 * spark.sparkContext.defaultParallelism + nlist - 1) / nlist)

  /** The drift monitor [[appendIvfIndex]]'s contract points at, for
    * plain IVF indexes (the PQ twin with a reconstruction-error column
    * is [[Pq.indexDriftStats]]): mean cosine between a (normalized)
    * batch vector and its nearest stored centroid, one row per batch.
    * Compare against the build-time batch's row; when `coarse_fit`
    * falls materially, rebuild (and re-baseline the reference row —
    * a noisier distribution has intrinsically lower fit). One narrow
    * pass over the BATCH against broadcast centroids — cost independent
    * of the resident index. */
  def ivfDriftStats(batch: DataFrame, idCol: String, vecCol: String,
      path: String): DataFrame =
    ivfDriftStats(batch, idCol, vecCol, IvfFamily.routing(batch.sparkSession, path))

  /** [[ivfDriftStats]] against caller-held centroids — the
    * streaming-monitor form. */
  def ivfDriftStats(batch: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]]): DataFrame = {
    val fitUdf = udf { (v0: Seq[Double]) =>
      val v = normalize(v0.toArray)
      val cell = nearestCell(v, cents)
      var fit = 0.0d
      var j = 0
      while (j < v.length) { fit += v(j) * cents(cell)(j); j += 1 }
      fit
    }
    batch.select(fitUdf(col(vecCol).cast("array<double>")).as("fit"))
      .agg(count(lit(1)).as("n_vectors"), round(avg(col("fit")), 6).as("coarse_fit"))
  }

  /** A stored index's centroids ([[writeIvfIndex]] layout) on the
    * driver: nlist×dim doubles, cell-ordered — a private copy of the
    * index snapshot's ([[IndexMaintenance]]), which every probe, append
    * and drift call already reads through at no Spark job while the
    * centroid files are unchanged. Callers that hold centroids of their
    * own pass them to the centroid-taking overloads below. */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] =
    IvfFamily.routing(spark, path).map(_.clone())

  /** Query a stored IVF index ([[writeIvfIndex]]). The probed-cell set
    * is pushed as a literal IN filter on the partition column, so the
    * scan prunes to those directories statically — visible as
    * PartitionFilters in the plan. Results are identical to [[ivfTopK]]
    * with the same parameters. Centroids, the tombstone ledger and the
    * corpus schema come from the index snapshot: a repeat probe runs
    * only its scoring jobs. */
  def ivfTopKIndexed(
      queries: DataFrame, qId: String, qVec: String,
      path: String, k: Int, nprobe: Int,
      filter: Option[Column] = None,
      minCandidates: Int = 0): DataFrame =
    ivfTopKIndexed(queries, qId, qVec, path, k, nprobe,
      IvfFamily.routing(queries.sparkSession, path), filter, minCandidates)

  /** [[ivfTopKIndexed]] with caller-held centroids: each call still reads
    * the ledger and the corpus schema from the index snapshot and only
    * its probed CELLS of the corpus, the part that must stay fresh
    * across appends.
    *
    * `filter` (r18) is FILTERED vector search — the production
    * "nearest neighbors WHERE metadata predicate" shape (language = en,
    * date range, source allowlist): a predicate over columns the build
    * stored inline (`writeIvfIndex(metaCols)`), applied INSIDE the
    * cell-pruned corpus scan — Catalyst pushes it into the parquet read
    * (row-group pruning on the metadata column), so non-matching rows
    * never reach the scoring join, and no corpus-sized id-set join
    * exists anywhere. At nprobe = nlist the answer is EXACTLY brute
    * force over the filtered corpus (oracle-gated by
    * `ann_ivf_filtered`); at partial probe the usual IVF recall
    * contract applies per-filtered-corpus — a highly selective filter
    * thins candidates per probed cell (the standard filtered-ANN
    * trade). Composes with deletion: tombstones are anti-joined on top
    * of the filter.
    *
    * `minCandidates` (r19) ENCODES the nprobe-widening remedy: when
    * > 0, nprobe widens until every query's probed cells hold at least
    * this many filtered, non-tombstoned candidates, or every cell is
    * probed — the guard against a selective predicate silently thinning
    * shortlists at a fixed nprobe (a 1 %-selective filter at nprobe 8
    * returns confidently wrong top-k with no signal otherwise; the
    * SCALE.md Round 19d recall sweep quantifies the cliff).
    * [[widenProbe]] has the census, the jump and their cost.
    * `minCandidates = k` guarantees k-deep answers; raise it toward
    * 10-30× k when recall@k matters more than latency. */
  def ivfTopKIndexed(
      queries: DataFrame, qId: String, qVec: String,
      path: String, k: Int, nprobe: Int,
      cents: Array[Array[Double]], filter: Option[Column],
      minCandidates: Int): DataFrame = {
    val spark = queries.sparkSession
    // tombstoned ids vanish from answers immediately
    val live = IndexMaintenance.dropTombstoned(spark,
      IndexMaintenance.ledgerRows(spark, path), "corpus_id")
    // the query side is small by contract (it's the probe set, not the
    // corpus): collected ONCE — a local frame collects with no job — and
    // the probe cells are picked here on the driver, so no job runs to
    // learn which cells to prune to
    val qs = localQueries(queries, qId, qVec)
    // the probe frame + candidate frame at one nprobe setting — built
    // per widening attempt and once for the final scoring join
    def at(np: Int): (DataFrame, DataFrame) = {
      val probes = qs.rows.flatMap { r =>
        probeCells(normalize(r.getSeq[Double](1).toArray), cents, np)
          .map(c => org.apache.spark.sql.Row(r.get(0), r.get(1), c))
      }
      val q = qs.frame(probes, "cell" -> org.apache.spark.sql.types.IntegerType)
        .withColumn("qn", l2norm(col("qv")))
      // literal IN on the partition column -> static directory pruning.
      // The corpus listing is taken through the snapshot gate (marker +
      // epoch validated on both sides, retry on overlap; a live fold's
      // marker window just delays it), so a folded batch is never visible
      // twice, even when a fold runs concurrently with this probe.
      // Remaining anomaly is loud-only: a file deleted after the snapshot
      // fails the task with FileNotFoundException — retry the query.
      val c0 = IvfFamily.readTable(spark, path, "corpus")
        .filter(col("cell").isin(probes.map(_.getInt(2)).distinct.toSeq: _*))
      // the metadata predicate rides the same scan the cell IN-filter
      // prunes — Catalyst pushes it into the parquet read, so filtered
      // search costs a narrower scan, not a join
      (q, live(filter.map(c0.filter).getOrElse(c0)))
    }
    val (q, c) = widenProbe(nprobe, cents.length, minCandidates, qs)(at)(identity)
    rankTopK(q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn"))), k)
  }

  /** The nprobe-widening loop of the stored probes ([[ivfTopKIndexed]],
    * [[Pq.pqTopKIndexed]]). `at(np)` builds one probe attempt; `frames`
    * picks its (query_id, cell) probe frame and its candidate frame. From
    * `nprobe` (clamped to [1, nlist]), while `minCandidates > 0`, each
    * attempt runs one NARROW census — per-cell candidate counts over the
    * pruned cells, joined back onto the tiny probe frame, never the
    * scoring join — and widens ([[widenedNprobe]]) until every query sees
    * `minCandidates + 1` candidates or every cell is probed. The `+ 1`
    * allows for ONE self-match: the census cannot cheaply exclude a
    * corpus-member query's own row, but the answers do, so without it
    * `minCandidates = k` could stop one short and return k-1 answers with
    * no signal; it costs at most one unnecessary widening in
    * exact-boundary corpora. The widening is bounded by its doubling
    * floor (total pruned-scan work < 2× the final attempt's). Returns the
    * LAST attempt, whose frames are the scoring inputs — no probe plan is
    * rebuilt (r19 review). */
  private[operators] def widenProbe[A](nprobe: Int, nlist: Int, minCandidates: Int,
      qs: LocalQueries)(at: Int => A)(frames: A => (DataFrame, DataFrame)): A = {
    lazy val nq = qs.distinctIds
    @annotation.tailrec
    def settle(np: Int, cur: A): A = {
      val (q, c) = frames(cur)
      val per = q.select("query_id", "cell")
        .join(c.groupBy("cell").agg(count(lit(1)).as("n")), Seq("cell"))
        .groupBy("query_id").agg(sum(col("n")).as("n"))
        .select("n").collect().map(_.getLong(0))
      val minGot = if (per.length < nq || per.isEmpty) 0L else per.min
      if (minGot >= minCandidates.toLong + 1 || np >= nlist) cur
      else {
        val next = widenedNprobe(np, nlist, minGot, minCandidates)
        settle(next, at(next))
      }
    }
    val np = math.min(math.max(nprobe, 1), nlist)
    if (minCandidates > 0) settle(np, at(np)) else at(np)
  }

  /** One step of [[widenProbe]]'s ladder: the nprobe after an attempt at
    * `np` whose poorest query saw `minGot` candidates. A PROPORTIONAL
    * jump, not blind doubling (r19 review of the 19d ultra-selective arm,
    * which paid 5 census ladders from nprobe 8): candidate density per
    * probed cell is roughly uniform, so the probe set scales by the
    * shortfall ratio with 2× headroom for uneven cells, floored at a
    * doubling and capped at `nlist`; zero candidates seen means the
    * density is unknowable — go straight to the full probe and let one
    * census decide. */
  private[operators] def widenedNprobe(np: Int, nlist: Int, minGot: Long,
      minCandidates: Int): Int = {
    val want = (minCandidates.toLong + 1) * 2
    val scaled = if (minGot <= 0) nlist.toLong
      else math.min(nlist.toLong, np.toLong * want / minGot)
    math.min(nlist.toLong, math.max(np.toLong * 2, scaled)).toInt
  }

  /** A probe's query side on the driver: `(query_id, qv array<double>)`
    * rows collected once — a local frame collects with no Spark job —
    * from which probe cells, lookup tables and census counts are
    * computed here, and local frames rebuilt for the scoring join. The
    * probe contract already makes the query set driver-small (it is
    * broadcast into the scoring join). */
  private[operators] final class LocalQueries(val rows: Array[org.apache.spark.sql.Row],
      idField: org.apache.spark.sql.types.StructField, spark: org.apache.spark.sql.SparkSession) {
    /** Rows `(query_id, qv, extra...)` as a local frame. */
    def frame(rows: Seq[org.apache.spark.sql.Row],
        extra: (String, org.apache.spark.sql.types.DataType)*): DataFrame = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
        Seq(idField.copy(name = "query_id"), StructField("qv", ArrayType(DoubleType))) ++
          extra.map { case (n, t) => StructField(n, t) }))
    }
    /** The distinct query ids, as `select(qId).distinct().count()`. */
    def distinctIds: Long = rows.map(_.get(0)).distinct.length.toLong
  }

  private[operators] def localQueries(queries: DataFrame, qId: String,
      qVec: String): LocalQueries = {
    val q = queries.select(col(qId).as("query_id"), col(qVec).cast("array<double>").as("qv"))
    new LocalQueries(q.collect(), q.schema("query_id"), queries.sparkSession)
  }

  /** LSH-bucketed approximate top-k: candidates share at least one
    * hyperplane band with the query; exact cosine re-ranks candidates.
    * The 100 TB path: corpus is bucketed once (write-side, reusable),
    * each query probes only its own buckets — no cross join, the shuffle
    * is on uniform hash buckets. Recall tunes with planes/bands.
    *
    * Geometry default: `planes = bands = 0` derives a scale-safe
    * geometry from one cheap corpus count ([[autoLshGeometry]] at an
    * assumed working cosine of 0.9 — the close-neighbor regime ANN is
    * for). Pass both explicitly to tune (the AnnRecallSpec floors pin
    * two explicit geometries at dims 64 and 256).
    *
    * NOTE: the auto-geometry count is an EAGER extra action over the
    * corpus plan — pin an expensive un-cached corpus first, or pass
    * `knownCount` (> 0) to skip it; explicit `planes`/`bands` never
    * count. */
  def lshTopK(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      dim: Int, k: Int, planes: Int = 0, bands: Int = 0,
      knownCount: Long = 0L): DataFrame = {
    require((planes == 0) == (bands == 0),
      "pass both planes and bands explicitly, or neither (auto geometry)")
    val (p, b) =
      if (planes == 0) autoLshGeometry(
        if (knownCount > 0) knownCount else corpus.count(), cosine = 0.9d)
      else (planes, bands)
    lshTopKWith(queries, qId, qVec, corpus, cId, cVec, dim, k, p, b)
  }

  private def lshTopKWith(
      queries: DataFrame, qId: String, qVec: String,
      corpus: DataFrame, cId: String, cVec: String,
      dim: Int, k: Int, planes: Int, bands: Int): DataFrame = {
    // Same discipline as [[graft.operators.Dedup.embeddingNearDups]]
    // (measured there: 135 s -> 16 s): the bucket join moves ID-WIDTH
    // rows only — column pruning drops the vector before the per-band
    // explode, so the bands-way row multiplication never carries
    // dim-width payloads through the exchange (at 2 M × auto-geometry
    // ~25 bands that is a ~27 GB shuffle avoided) — and a pair
    // colliding in many bands dedupes BEFORE its one dot product.
    // Vectors re-attach from the inputs: the query side broadcasts
    // (bounded — it is the small side by contract). The candidate list
    // is NOT broadcast-hinted: unlike the k·refine ADC shortlists it is
    // unbounded (dense buckets can approach |Q|×|C| id pairs), so a
    // forced broadcast risks the driver/broadcast size wall at exactly
    // the skewed-bucket regime where the plan must degrade gracefully.
    // AQE still picks a broadcast join at runtime whenever the deduped
    // pair set measures small, so the common case loses nothing.
    val qb = hyperplaneBuckets(queries, qId, qVec, dim, planes, bands)
      .select(col("band"), col("bucket"), col("id").as("query_id"))
    val cb = hyperplaneBuckets(corpus, cId, cVec, dim, planes, bands)
      .select(col("band"), col("bucket"), col("id").as("corpus_id"))
    val candidates = qb.join(cb, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select("query_id", "corpus_id")
      .dropDuplicates("query_id", "corpus_id")
    val qv = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
      .withColumn("qn", l2norm(col("qv"))))
    val cvn = corpus.select(col(cId).as("corpus_id"), col(cVec).as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    rankTopK(candidates.join(cvn, Seq("corpus_id"))
      .join(qv, Seq("query_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("qn") * col("cn"))), k)
  }

  /** SemDeDup-style semantic deduplication: cluster the corpus with a
    * coarse quantizer, then find near-duplicate pairs only WITHIN each
    * cluster — the quadratic pair search is bounded by cluster size
    * instead of corpus size, which is the whole trick at 100 TB.
    *
    * Default quantizer = the `k` lowest-id vectors as fixed seed
    * centroids: deterministic (no RNG, engine-reproducible,
    * oracle-checkable). Pass `centroids` (e.g. [[trainIvfCentroids]]
    * output) to use a trained quantizer instead — the downstream pair
    * search is identical, only centroid quality changes.
    *
    * Plan shape: centroids broadcast (k×dim doubles), assignment is a
    * map-side-combinable argmax aggregate (the ×k fan-out collapses in
    * the partial agg — no corpus×k shuffle), then one shuffle on the
    * cluster id for the within-cluster self-join. Returns (cluster,
    * id_a, id_b, cosine) pairs at `threshold`+; survivors = ids absent
    * from id_b (lowest id per duplicate group wins, as in
    * [[Dedup.keepOnePerComponent]]). */
  /** Production SemDeDup entry point: train an IVF quantizer on a bounded
    * sample ([[trainIvfCentroids]]), then run [[semanticDedup]] with the
    * trained centroids — assignment is a map-side argmax over a broadcast
    * centroid table, so the only shuffle is the within-cluster self-join.
    * The seed-centroid default of [[semanticDedup]] remains as the
    * SQL-replicable oracle twin; this is the path a 100 TB corpus runs. */
  def semanticDedupIvf(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, threshold: Double, iters: Int = 8): DataFrame =
    semanticDedup(corpus, idCol, vecCol, nlist, threshold,
      Some(trainIvfCentroids(corpus, idCol, vecCol, nlist, iters)))

  /** The SemDeDup cluster assignment, shared by the exact pair search
    * ([[semanticDedup]]) and the PQ-prefiltered one
    * ([[Pq.semanticDedupPq]]) so both see IDENTICAL clusters. Input `c`
    * must carry (id, v, nrm). */
  private[operators] def clusterAssign(c: DataFrame, k: Int,
      centroids: Option[Array[Array[Double]]]): DataFrame = centroids match {
    case Some(cents) =>
      // trained quantizer (e.g. [[trainIvfCentroids]] output): assign
      // in one narrow pass
      c.select(col("id"), cellUdf(cents)(col("v")).as("cluster"))
    case None =>
      // seed centroids = the k lowest-id vectors; argmax cosine, ties
      // break to the lowest centroid id via min_by on (-cos, cid) —
      // unique per (id, cid) so deterministic, and cid never needs
      // negating (a string id under -cid would cast to null and make
      // exact-cosine ties nondeterministic).
      val cents = broadcast(c.orderBy("id").limit(k)
        .select(col("id").as("cid"), col("v").as("cv"), col("nrm").as("cn")))
      c.crossJoin(cents)
        .withColumn("cos", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
        .groupBy(col("id"))
        .agg(min_by(col("cid"), struct(-col("cos"), col("cid"))).as("cluster"))
  }

  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, threshold: Double,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val assign = clusterAssign(c, k, centroids)
    // both sides of the self-join read `assigned` — persist so the scan +
    // assignment pipeline runs once, not twice (same session-owned cache
    // lifecycle as the Dedup family; a materialized table at 100 TB)
    val assigned = c.join(assign, Seq("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("cluster"), col("id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("cluster"), col("id_a"), col("id_b"),
        round(col("cosine"), 4).as("cosine"))
  }
}
