package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SessionShim

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators are pure DataFrame transforms — no driver-side loops, no
  * collect — so they scale with partitions. The one bounded exception is
  * [[keepOnePerComponent]]: a pair list of at most 2^18 pairs is collected
  * and labelled on the driver (see there). The near-dup family follows the
  * standard sketch → band → bucket-join → verify shape: the *only* shuffle
  * on the full corpus is the groupBy on (band, bucket-hash), whose key
  * space is uniform by construction (hash values), so no salting is needed;
  * the expensive exact verification runs only on candidate pairs, which are
  * a tiny fraction of n² at any scale.
  */
object Dedup {

  // ---- persist lifecycle -------------------------------------------------
  // The near-dup operators pin intermediates (shingle sets, banded keys,
  // inverted indexes) that the returned LAZY frames depend on, so they
  // cannot unpersist before the caller's action. Per-query that is fine
  // (the ContextCleaner reclaims them eventually), but a long-lived 100 TB
  // session accumulates blocks in executor storage memory. Every persist
  // below is therefore REGISTERED per session; after the action boundary
  // the caller releases them all with [[unpersistAll]].
  private val pinnedBySession =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]()

  private implicit class TrackedPersist(private val df: DataFrame) {
    /** persist(MEMORY_AND_DISK) + register for [[unpersistAll]]. */
    def trackedPersist(): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinnedBySession.computeIfAbsent(df.sparkSession,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()).add(p)
      p
    }
  }

  /** [[TrackedPersist.trackedPersist]] for sibling operators (Curation's
    * span scrub shares this registry so one `unpersistAll` drains both). */
  private[graft] def pin(df: DataFrame): DataFrame = df.trackedPersist()

  /** Release every intermediate this object pinned for `spark`. Call AFTER
    * the consuming action (count/write/collect) — the returned frames are
    * lazy and recompute from scratch if drained early. Unpersist is
    * non-blocking and idempotent. Returns the number of frames released. */
  def unpersistAll(spark: org.apache.spark.sql.SparkSession): Int = {
    val q = pinnedBySession.remove(spark)
    if (q == null) 0
    else {
      var n = 0
      val it = q.iterator()
      while (it.hasNext) { it.next().unpersist(blocking = false); n += 1 }
      n
    }
  }

  /** Spread a poorly-partitioned input across the cluster before per-row
    * sketch work (shingling, hashing, signatures). A small parquet file
    * arrives as ONE partition, so without this every interpreted per-doc
    * computation runs on one core of N (measured 3-4× on the sf0.1 bench).
    * No-op whenever the input already has enough partitions — i.e. always
    * at real scale, where inputs arrive in thousands of splits.
    *
    * The partition probe (`df.rdd.getNumPartitions`) is planning-only for
    * scan-shaped inputs, but under AQE it eagerly materializes any shuffle
    * stages in the plan — so frames containing a shuffle-producing
    * operator are returned untouched: they are already
    * `spark.sql.shuffle.partitions` wide, only scan-rooted frames can be
    * single-partition. */
  private[operators] def spread(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val postShuffle = df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort |
           _: RepartitionOperation | _: Distinct => true
      case _ => false
    }
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (!postShuffle && df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Exact dedup: keep one row per distinct `cols` tuple (hash-aggregate,
    * map-side partial combine for free). */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame =
    df.dropDuplicates(cols)

  /** Exact-duplicate pre-collapse for the near-dup family: group byte-
    * identical texts by 64-bit content fingerprint and hand ONE
    * representative per group to the sketch machinery; member pairs are
    * reconstructed afterwards ([[expandRepPairs]]).
    *
    * Why: candidate pairs inside a group of m identical copies grow as
    * C(m,2) — the one superlinear term the round-7 sf1 audit measured
    * (dedup_ngram_jaccard 21.5× for 10× data on a 10×-replicated corpus).
    * Collapsing makes the sketch/join cost a function of DISTINCT texts;
    * duplicate density only affects the final expansion, whose size is the
    * output's own cardinality. At 100 TB this is the standard first stage
    * of every production near-dup pipeline.
    *
    * Returns (reps, members): reps = (id, text, gsize) one row per distinct
    * text (id = min member id); members = (id, rep_id, gsize) for every
    * input row. A 64-bit fingerprint collision between two distinct texts
    * would merge their groups — the same accepted 2^-64-per-pair risk class
    * as the hashed-shingle oracle equivalence (see [[shingleHashUdf]]). */
  private def collapseByText(df: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    // Shuffle shape matters here: a window over fp would haul every text
    // through the exchange. The groupBy form is map-side combinable —
    // duplicate texts collapse to one (fp, text) pair per map partition
    // BEFORE the shuffle (min_by keeps the text of the minimal id, i.e.
    // the representative's own bytes even under a fingerprint collision),
    // and the membership map then joins on (fp) moving only id-width rows.
    val withFp = spread(df)
      .select(col(idCol).as("id"), col(textCol).as("text"),
        xxhash64(col(textCol)).as("fp"))
    val reps = withFp.groupBy("fp")
      .agg(min("id").as("id"), min_by(col("text"), col("id")).as("text"),
        count(lit(1)).as("gsize"))
      .trackedPersist()
    val members = withFp.select(col("id"), col("fp"))
      .join(reps.select(col("fp"), col("id").as("rep_id"), col("gsize")), "fp")
      .select(col("id"), col("rep_id"), col("gsize"))
      .trackedPersist()
    (reps.select(col("id"), col("text"), col("gsize")), members)
  }

  /** Expansion tail of the pre-collapsed near-dup joins: representative
    * pairs fan back out to member pairs (canonicalized id_a < id_b), and
    * intra-group pairs — identical texts, similarity known in closed form —
    * are emitted directly from `intra` = (rep_id, value columns), one row
    * per duplicate group that qualifies. Both joins move only ids and the
    * similarity value; the C(m,2) intra fan-out IS the output cardinality,
    * not an intermediate. */
  private def expandRepPairs(repPairs: DataFrame, intra: DataFrame,
      members: DataFrame, valueCols: Seq[String]): DataFrame = {
    val vals = valueCols.map(col)
    val cross = repPairs
      .join(members.select(col("rep_id").as("id_a"), col("id").as("ma")), "id_a")
      .join(members.select(col("rep_id").as("id_b"), col("id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a") +:
        greatest(col("ma"), col("mb")).as("id_b") +: vals: _*)
    val dupM = members.filter(col("gsize") > 1)
    val intraPairs = dupM.select(col("rep_id"), col("id").as("ma"))
      .join(dupM.select(col("rep_id"), col("id").as("mb")), "rep_id")
      .filter(col("ma") < col("mb"))
      .join(intra, "rep_id")
      .select(col("ma").as("id_a") +: col("mb").as("id_b") +: vals: _*)
    cross.union(intraPairs)
  }

  /** Exact-dup groups: representative id per duplicated key, for audit. */
  def exactGroups(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Line-level dedup (RefinedWeb-style boilerplate removal): split each
    * document on `sep`, drop every "hot" line (headers, footers, nav
    * chrome, license blocks), and reassemble the survivors in their
    * original order. Documents whose lines are ALL boilerplate drop out
    * entirely.
    *
    * The DEFAULT cut is corpus-RELATIVE: a line is boilerplate when it
    * appears in more than `maxDfFrac` of the input documents. The sf1
    * audit proved an absolute document-frequency cap is a replication
    * trap — at 10× the docs every common line crosses a fixed cap and
    * whole documents vanish — so the absolute form is opt-in: passing
    * `maxDf > 0` explicitly switches to "df > maxDf" and overrides the
    * fraction (for calibrated-corpus uses that genuinely want a count).
    *
    * Scale shape: lines travel as fnv1a64 hashes into the
    * document-frequency aggregate (map-side combinable, strings never
    * shuffle); the hot-line set is tiny by construction at any corpus
    * size, so the removal is a BROADCAST anti-join; the only other
    * exchange is the per-doc rebuild keyed on id. Same hash-vs-string
    * oracle equivalence as the shingle family (pinned in CurationSpec): a
    * 64-bit fnv collision between two distinct lines of the same corpus
    * is the only divergence mode.
    *
    * `sep` is a literal separator, not a regex. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", maxDf: Long = 0, maxDfFrac: Double = 0.5): DataFrame = {
    require(maxDf > 0 || maxDfFrac > 0,
      "need a boilerplate cut: maxDfFrac > 0 (corpus-relative, default) or explicit maxDf > 0")
    val hash = udf((s: String) =>
      java.lang.Long.valueOf(graft.functions.GraftFunctions.fnv1a64(s)))
    // r19 opt (guide §1.2): `lines` feeds three consumers (the df count,
    // the n_docs scalar, the anti-join) — unpinned, the split + posexplode
    // + hash UDF ran once per consumer. Pinned, the explode runs once and
    // the narrow (id, pos, line, h) rows are the materialize-don't-rescan
    // trade every Dedup intermediate already makes.
    // No spread: too light per row to repay it, 2× slower (OPTIMIZATION_r20.md, lineDedup).
    val lines = pin(df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
      .withColumn("h", hash(col("line"))))
    val dfs = lines.select("id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    // Relative cut: the doc count is computed inside the plan (one-row
    // aggregate, broadcast) so the operator stays a pure transform. An
    // explicit maxDf > 0 takes precedence — its default is 0/unset, so it
    // can only be here because the caller asked for the absolute form.
    val hot = (if (maxDf > 0) dfs.filter(col("df") > maxDf)
    else {
      val nDocs = lines.select(countDistinct(col("id")).as("n_docs"))
      dfs.crossJoin(broadcast(nDocs))
        .filter(col("df") > col("n_docs") * lit(maxDfFrac))
    })
      .select("h")
    lines.join(broadcast(hot), Seq("h"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")),
        sep).as("clean_text"))
  }

  /** Let-binding for an expensive array expression consumed inside a
    * higher-order lambda: `transform(array(x), w => body(w))[0]` binds x
    * to a LAMBDA VARIABLE, so it evaluates ONCE per row. Spark's HOF
    * lambdas run interpreted with no subexpression elimination — an
    * expensive expression written directly in a lambda body re-evaluates
    * per ELEMENT (measured: regexp tokenization inside a bigram
    * transform made gram extraction O(words²) per document — single-core
    * minutes at 500 K docs, r11 census). */
  private[operators] def bindArray(arr: Column)(body: Column => Column): Column =
    transform(array(arr), body).getItem(0)

  /** Word k-shingles of a text column as a distinct array column.
    * Documents shorter than k words produce no shingles (matches the
    * DuckDB-oracle definition: range(1, len-k+2) over word slices). */
  def shingles(text: Column, k: Int): Column =
    bindArray(split(text, "\\s+")) { words =>
      when(size(words) >= k,
        array_distinct(
          transform(
            sequence(lit(1), size(words) - (k - 1)),
            i => concat_ws(" ", slice(words, i, lit(k))))))
        .otherwise(array().cast("array<string>"))
    }

  /** splitmix64 finalizer — decorrelates the derived hash family. */
  private def fmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Distinct word k-shingles of a text as a SORTED array of FNV-1a
    * 64-bit hashes — the hashed-set representation the whole sketch family
    * runs on. One tight pass per doc (Spark's higher-order array
    * expressions are interpreted; this replaced the expression-form
    * [[shingles]] in the hot paths for a measured ~2× on the sf0.1 bench):
    * the shingle string itself is never materialized (FNV is computed
    * incrementally over the words with a 0x20 separator, byte-identical to
    * hashing the joined string), arrays of longs shuffle far smaller than
    * arrays of strings, and sortedness lets the verification tail
    * intersect by linear merge-walk instead of hash-set probes.
    *
    * Tokenization matches `split(text, "\\s+")` (Spark limit = -1)
    * exactly, so the DuckDB oracle's string-side shingle counts agree.
    * 64-bit collisions would need ~2^32 distinct shingles per PAIR to
    * matter (counts are per-document set sizes); corpora hash-partition
    * long before that. */
  def shingleHashUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String) =>
      if (text == null) Array.empty[Long]
      else {
        val words = text.split("\\s+", -1)
        if (words.length < k) Array.empty[Long]
        else {
          val wb = words.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val set = new java.util.TreeSet[java.lang.Long]
          var i = 0
          while (i + k <= words.length) {
            var h = 0xcbf29ce484222325L
            var j = 0
            while (j < k) {
              if (j > 0) h = (h ^ 0x20L) * 0x100000001b3L // ' ' separator
              val bs = wb(i + j)
              var b = 0
              while (b < bs.length) {
                h = (h ^ (bs(b) & 0xffL)) * 0x100000001b3L
                b += 1
              }
              j += 1
            }
            set.add(h)
            i += 1
          }
          val out = new Array[Long](set.size)
          val it = set.iterator()
          var n = 0
          while (it.hasNext) { out(n) = it.next(); n += 1 }
          out
        }
      }
    }

  /** LSH band buckets straight from the hashed shingle set, one tight
    * pass: each base hash h1 spawns the Kirsch-Mitzenmacher family
    * g_i = h1 + i·h2 (h2 = splitmix64(h1), odd) standing in for
    * `numHashes` independent hashes — same collision behavior for
    * min-wise sketches, numHashes-fold fewer string hashes; per-band
    * minima fold into one 64-bit bucket key, so banding needs no
    * interpreted slice/concat either. */
  def minhashBandBuckets(bands: Int, rowsPerBand: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (hs: Seq[Long]) =>
      val numHashes = bands * rowsPerBand
      val mins = Array.fill(numHashes)(Long.MaxValue)
      hs.foreach { h1 =>
        val h2 = fmix64(h1) | 1L // odd => i·h2 cycles the full 2^64 group
        var i = 0
        var g = h1
        while (i < numHashes) {
          if (g < mins(i)) mins(i) = g
          g += h2
          i += 1
        }
      }
      Array.tabulate(bands) { b =>
        var acc = 0xcbf29ce484222325L
        var r = 0
        while (r < rowsPerBand) {
          acc = (acc ^ mins(b * rowsPerBand + r)) * 0x100000001b3L
          r += 1
        }
        acc
      }
    }

  /** Intersection size of two sorted long arrays by linear merge-walk. */
  private val intersectSizeUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
    var i = 0; var j = 0; var n = 0
    val x = a.toArray; val y = b.toArray
    while (i < x.length && j < y.length) {
      val c = java.lang.Long.compare(x(i), y(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** MinHash + LSH banding near-dup join.
    *
    * numHashes = bands * rowsPerBand. Two docs land in the same bucket when
    * one band of their signatures agrees exactly; candidates are then
    * verified with exact Jaccard over the shingle sets. With the default
    * 16×4 geometry the S-curve threshold is ≈ (1/16)^(1/4) ≈ 0.5.
    *
    * Scale: the bucket groupBy is the only full-corpus shuffle; the
    * candidate self-join is on bucket keys (both sides pre-hashed), and
    * verification touches candidate pairs only. With `collapseExact` (the
    * default) byte-identical texts collapse to one representative first
    * ([[collapseByText]]) — identical copies always share every bucket and
    * verify at jaccard 1.0, so running them through the sketch is pure
    * C(m,2) candidate blow-up; the pair output is identical either way. */
  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      jaccardThreshold: Double = 0.5,
      collapseExact: Boolean = true): DataFrame = {
    val (input, expansion) =
      if (collapseExact) {
        val (reps, members) = collapseByText(df, idCol, textCol)
        (reps, Some(members))
      } else (spread(df).select(col(idCol).as("id"), col(textCol).as("text")), None)

    // Shingle sets are needed twice (signature + verification) and the
    // banded keys twice (both sides of the self-join); persist both so the
    // expensive shingle/minhash computation runs once. At 100 TB these
    // become materialized intermediate tables; MEMORY_AND_DISK spills
    // gracefully either way.
    val sh = input
      .select(col("id"), shingleHashUdf(shingleK)(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .trackedPersist()

    // Banding: only (id, band, bucket) travels through the self-join —
    // never the shingle arrays (they'd dominate shuffle volume). Pinned
    // as-is: key-partitioning the sketch self-join caches was measured
    // and lost at sf1 (SCALE.md Round 20a, plans/r20/).
    val banded = sh
      .select(col("id"),
        posexplode(minhashBandBuckets(bands, rowsPerBand)(col("sh"))).as(Seq("band", "bucket")))
      .trackedPersist()

    val candidates = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")

    val repPairs = verifyJaccard(candidates, sh, jaccardThreshold)
    expansion match {
      case None => repPairs
      case Some(members) =>
        // intra-group pairs: identical texts verify at exactly 1.0 — but
        // only when the doc shingles at all (< k words never pairs in the
        // direct path either), hence the qualifying groups come from `sh`
        val intra = sh.select(col("id").as("rep_id"))
          .withColumn("jaccard", round(lit(1.0), 4))
          .filter(lit(1.0) >= jaccardThreshold)
        expandRepPairs(repPairs, intra, members, Seq("jaccard"))
    }
  }

  /** Shared verification tail of the near-dup joins: fetch full hashed
    * shingle sets for candidate (id_a, id_b) pairs and keep exact
    * Jaccard ≥ t. `sh` must carry (id, sh: sorted array<long>); candidate
    * volume, not corpus volume, drives the cost. */
  private def verifyJaccard(
      candidates: DataFrame, sh: DataFrame, threshold: Double,
      broadcastSketches: Boolean = false): DataFrame =
    verifyJaccard2(candidates, sh, sh, threshold, broadcastSketches)

  /** Two-sided variant: id_a resolves against `shA`, id_b against `shB`
    * (for drop-vs-corpus probes where the sides are different frames).
    * `broadcastSketches` hints both sketch sides broadcast: at replica
    * density the candidate side is Θ(pairs) rows each dragging two
    * full shingle arrays through a shuffle (~70 GB at 24.8 M pairs,
    * SCALE.md r11) while the per-doc sketch table is corpus-linear and
    * small — broadcasting it removes the per-pair array exchange
    * entirely. Purely physical; answers identical. */
  private def verifyJaccard2(
      candidates: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double, broadcastSketches: Boolean = false): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (broadcastSketches) d => broadcast(d) else identity
    candidates
      .join(hint(shA.select(col("id").as("id_a"), col("sh").as("sh_a"))), "id_a")
      .join(hint(shB.select(col("id").as("id_b"), col("sh").as("sh_b"))), "id_b")
      .withColumn("inter", intersectSizeUdf(col("sh_a"), col("sh_b")))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Incremental-ingest exact dedup: rows of `drop` whose `keyCols`
    * tuple does not already occur in `corpus` — the per-batch novelty
    * filter a production pipeline runs instead of re-deduping the whole
    * corpus. One anti-join; at 100 TB put a bloom prefilter
    * ([[RuntimeFilter.bloomPrefilter]]) or a materialized fingerprint
    * column on the corpus side to cut the shuffle. */
  def incrementalExact(corpus: DataFrame, drop: DataFrame,
      keyCols: Seq[String]): DataFrame =
    drop.join(corpus.select(keyCols.map(col): _*).dropDuplicates(keyCols),
      keyCols, "left_anti")

  /** Incremental near-dup probe: (id_a = new doc, id_b = existing doc,
    * jaccard) pairs where a document of `drop` is a near-duplicate of a
    * document already in `corpus`. Same shingle→minhash→band→verify
    * machinery as [[minhashNearDups]], but the bucket join is
    * drop-vs-corpus instead of corpus-vs-corpus: per-batch cost scales
    * with the DROP, not the corpus. The corpus's banded index is the
    * reusable artifact — materialize it once, append each accepted batch,
    * and every future drop probes it. */
  def incrementalNearDups(
      corpus: DataFrame, drop: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      jaccardThreshold: Double = 0.5): DataFrame = {
    def prep(df: DataFrame) = spread(df)
      .select(col(idCol).as("id"), shingleHashUdf(shingleK)(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .trackedPersist()
    def band(sh: DataFrame) = sh.select(col("id"),
      posexplode(minhashBandBuckets(bands, rowsPerBand)(col("sh"))).as(Seq("band", "bucket")))
    val shC = prep(corpus)
    val shD = prep(drop)
    val candidates = band(shD).select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(band(shC).select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard2(candidates, shD, shC, jaccardThreshold)
  }

  /** 64-bit SimHash over whitespace tokens (Charikar '02): each token's
    * xxhash64 votes ±1 per bit; the sign vector is the fingerprint.
    * Implemented as a tight scalar UDF (the 64-bit loop has no good
    * expression form) — one pass per doc, no shuffle. */
  val simhash64: String => Long = { text =>
    val counts = new Array[Int](64)
    // null text -> empty fingerprint (String UDF params are NOT
    // auto-null-checked by Spark; .split on null would NPE the task)
    val safe = if (text == null) "" else text
    for (tok <- safe.split("\\s+") if tok.nonEmpty) {
      // xxhash64-compatible cheap stand-in: FNV-1a, stable across JVMs
      var h = graft.functions.GraftFunctions.fnv1a64(tok)
      var b = 0
      while (b < 64) {
        if ((h & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        h >>>= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dups: band the 64-bit fingerprint into four 16-bit
    * chunks (pigeonhole: hamming distance ≤ 3 ⟹ at least one identical
    * chunk), bucket-join on chunks, verify true hamming distance. */
  def simhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      collapseExact: Boolean = true): DataFrame = {
    val sim = udf(simhash64)
    val pop = udf((a: Long, b: Long) => java.lang.Long.bitCount(a ^ b))
    val (input, expansion) =
      if (collapseExact) {
        val (reps, members) = collapseByText(df, idCol, textCol)
        (reps, Some(members))
      } else (spread(df).select(col(idCol).as("id"), col(textCol).as("text")), None)
    val withFp = input.select(col("id"), sim(col("text")).as("fp"))
    // r19 opt (guide §1.2): banded feeds BOTH sides of the chunk
    // self-join — unpinned, the simhash fingerprint UDF ran once per
    // side. Pinned, it runs once and both sides read the cache (the
    // join itself stays whatever the planner picks — AQE broadcasts it
    // at bench scale).
    val banded = withFp.select(col("id"), col("fp"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"), shiftrightunsigned(col("fp"), c * 16).bitwiseAND(lit(0xFFFFL)).as("val"))
      }: _*)).as("cb"))
      .select(col("id"), col("fp"), col("cb.chunk"), col("cb.val"))
      .trackedPersist()
    val l = banded.select(col("chunk"), col("val"), col("id").as("id_a"), col("fp").as("fp_a"))
    val r = banded.select(col("chunk"), col("val"), col("id").as("id_b"), col("fp").as("fp_b"))
    val repPairs = l.join(r, Seq("chunk", "val"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", pop(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    expansion match {
      case None => repPairs
      case Some(members) =>
        // identical texts have identical fingerprints: hamming 0, and
        // simhash excludes nothing (even the empty text fingerprints)
        val intra = members.filter(col("gsize") > 1)
          .select(col("rep_id")).distinct()
          .withColumn("hamming", lit(0))
        expandRepPairs(repPairs, intra, members, Seq("hamming"))
    }
  }

  /** Exact n-gram Jaccard similarity for all pairs above a threshold,
    * via inverted-index join on shingles — no n² cross join: the join
    * fans out by shared shingle only. The per-shingle fan-out is bounded
    * by the document-frequency cap (shingles in > dfCap docs are dropped —
    * they carry no signal and cause skew; the standard trick).
    *
    * The shingled index is persisted — it feeds the df-count, both join
    * sides, nothing is computed three times (measured 2.4× on the sf0.1
    * bench; at 100 TB it becomes a materialized intermediate table). As
    * with [[minhashNearDups]], the pin is tracked: it stays cached (LRU-
    * evicted under pressure) until the caller's [[unpersistAll]] after
    * the consuming action releases it. The length-ratio prefilter inside
    * the join condition (J ≥ t forces min(n_a,n_b)/max(n_a,n_b) ≥ t)
    * drops size-mismatched pairs before the shuffle-heavy groupBy.
    *
    * This all-token variant wins up to mid-size corpora (head-to-head at
    * sf0.1: 1.6s vs 4.4s for the prefix-filtered plan — the prefix plan
    * pays a gdf join + per-doc window + verify joins of fixed overhead).
    * For huge duplicate-dense corpora, where the token-join fan-out itself
    * is the bottleneck, use [[ngramJaccardPairsPrefix]].
    *
    * THRESHOLD-1.0 × DF-CAP CLIFF (measured, SCALE.md r13): the reported
    * jaccard excludes capped shingles from the intersection by contract,
    * so two IDENTICAL texts with u uncapped of n shingles report
    * u/(2n−u) — strictly below 1.0 as soon as ANY of their shingles is
    * hot. At the 5M-doc mutated rung every document contains at least one
    * over-cap shingle, and `threshold = 1.0` returned ZERO pairs in a
    * 10M-row doubled corpus that is ≥50 % exact duplicates. Exact-set
    * dedup at that scale is not a Jaccard-join problem at all: use
    * [[setSignatureSurvivors]] (one linear signature shuffle, no pair
    * list, no df-cap in the plan). */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.5,
      dfCap: Int = 10000,
      collapseExact: Boolean = true): DataFrame = {
    val (input, expansion) =
      if (collapseExact) {
        val (reps, members) = collapseByText(df, idCol, textCol)
        (reps, Some(members))
      } else (spread(df).select(col(idCol).as("id"), col(textCol).as("text"),
        lit(1L).as("gsize")), None)
    val sh = input
      .select(col("id"), col("gsize"), shingleHashUdf(k)(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    // the inverted index keys on the 64-bit shingle hash, not the string:
    // long join keys shuffle smaller and compare cheaper
    val exploded = sh
      .select(col("id"), col("gsize"), size(col("sh")).as("n"), explode(col("sh")).as("g"))
      .trackedPersist()
    // df-cap: drop ubiquitous shingles (skew + zero signal). Inverted to a
    // broadcast ANTI-join on the over-cap grams: that list is tiny (at most
    // total_shingles/dfCap entries, and real text has a short hot head), so
    // the full index never shuffles for the cap — the ≤cap list it would
    // otherwise inner-join is nearly every distinct gram. Measured 1.5-2×
    // on the sf0.1 bench. Under pre-collapse the count is
    // weighted by group size, so the cap fires on exactly the same grams
    // as it would over the uncollapsed corpus — required for the
    // collapsed/direct parity contract.
    val hot = exploded.groupBy("g").agg(sum("gsize").as("gdf"))
      .filter(col("gdf") > dfCap).select("g")
    val capped = exploded.join(broadcast(hot), Seq("g"), "left_anti")
      .trackedPersist()
    val a = capped.select(col("g"), col("id").as("id_a"), col("n").as("n_a"))
    val b = capped.select(col("g"), col("id").as("id_b"), col("n").as("n_b"))
    val repPairs = a.join(b, Seq("g"))
      .filter(col("id_a") < col("id_b")
        && col("n_a") >= col("n_b") * lit(threshold)
        && col("n_b") >= col("n_a") * lit(threshold))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    expansion match {
      case None => repPairs
      case Some(members) =>
        // intra-group similarity in this variant's capped formula: identical
        // texts share exactly their u uncapped grams, so the reported value
        // is u/(2n−u) — NOT a blanket 1.0 — keeping collapsed output equal
        // to the direct path pair for pair. Groups whose grams are all
        // capped (u = 0) vanish here just as they produce no join rows.
        val intra = capped.groupBy("id")
          .agg(count(lit(1)).as("u"), max(col("n")).as("n"))
          .withColumn("jaccard",
            col("u").cast("double") / (lit(2) * col("n") - col("u")))
          .filter(col("jaccard") >= threshold)
          .select(col("id").as("rep_id"), round(col("jaccard"), 4).as("jaccard"))
        expandRepPairs(repPairs, intra, members, Seq("jaccard"))
    }
  }

  /** Prefix-filtered variant of [[ngramJaccardPairs]] (All-Pairs/PPJoin
    * family) for huge, duplicate-dense corpora — identical result set
    * (parity-tested; when the df-cap actually triggers the two differ
    * slightly by construction: this variant's reported jaccard is the
    * exact full-set value, the all-token variant's excludes capped
    * shingles from the intersection), different plan:
    *
    *  - **Prefix filter**: with shingles in a global total order, two sets
    *    with J ≥ t must share a token inside both *prefixes* of length
    *    p(n) = n − ⌈n·t/(1+t)⌉ + 1 (symmetric-join-safe bound: common
    *    tokens outside either prefix number ≤ (⌈r·n_a⌉−1)+(⌈r·n_b⌉−1) <
    *    r·(n_a+n_b) ≤ |A∩B| for r = t/(1+t), so at least one shared token
    *    sits in both prefixes). At t=0.5 only ~2/3 of tokens are indexed,
    *    and candidate pairs shrink superlinearly (bucket sizes fall too).
    *  - **Rarest-first order**: tokens sort by (document frequency, token),
    *    so ubiquitous shingles land *outside* the prefixes — the skew-heavy
    *    buckets never enter the join at all (the df-cap only matters past
    *    dfCap; the ordering already buries hot tokens).
    *  - **Verify**: candidate pairs (a tiny fraction of n²) fetch their
    *    full shingle sets by id; jaccard is exact.
    *
    * Crossover: at sf0.1 (5K docs) this measures 4.4s vs 1.6s for the
    * all-token plan — the gdf join, per-doc window and verify joins are
    * fixed overhead. It wins when the all-token join fan-out
    * (Σ_g count(g)²) dominates, i.e. dense duplication at large n.
    * Re-measured round 7 on a 10x-replicated corpus (sf1: 50K docs, every
    * doc x10 identical copies): all-token STILL wins, 15.0s vs 24.1s
    * (SCALE.md, Runtime scaling). THE CROSSOVER WAS FOUND at organic sf10
    * (r11, 500K docs in ~100-replica near-dup cliques): all-token's gram
    * join fans out to Σ_g count(g)² ≈ 10^10 rows and dies past 70 GB of
    * one-box spill, while this plan completes — 24.8M exact pairs in
    * 36 min on local[32] (SCALE.md r11). So: all-token stays the default
    * through ~10× organic density; at replica density ~100 switch to this
    * variant, and when the per-doc sketch table fits executor memory,
    * pass `broadcastVerify = true` so the verify tail broadcasts the
    * sketches instead of shuffling Θ(pairs × array) (the verify exchange
    * is the scale bound: the pair ANSWER itself is quadratic in clique
    * size; the hint is scoped to this operator — no session-wide
    * `autoBroadcastJoinThreshold` change needed, answers identical
    * either way). No data-dependent auto-dispatch: the two
    * variants' reported jaccard differs on df-capped grams by contract,
    * and a plan that silently changes answers with corpus stats would
    * break rerun- and oracle-stability. */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      threshold: Double = 0.5,
      dfCap: Int = 10000,
      broadcastVerify: Boolean = false): DataFrame = {
    val sh = spread(df)
      .select(col(idCol).as("id"), shingleHashUdf(k)(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), size(col("sh")).as("n"), col("sh"))
      .trackedPersist()
    val exploded = sh.select(col("id"), col("n"), explode(col("sh")).as("g"))
    val gdf = exploded.groupBy("g").agg(count(lit(1)).as("gdf"))
    val prefixLen = col("n") - ceil(col("n") * lit(threshold / (1.0d + threshold))) + 1
    val prefix = exploded
      .join(gdf.filter(col("gdf") <= dfCap), "g")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("gdf", "g")))
      .filter(col("rk") <= prefixLen)
      .select(col("g"), col("id"), col("n"))
    val candidates = prefix.select(col("g"), col("id").as("id_a"), col("n").as("n_a"))
      .join(prefix.select(col("g"), col("id").as("id_b"), col("n").as("n_b")), Seq("g"))
      .filter(col("id_a") < col("id_b")
        && col("n_a") >= col("n_b") * lit(threshold)
        && col("n_b") >= col("n_a") * lit(threshold))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(candidates, sh, threshold, broadcastVerify)
  }

  /** Connected components over a near-dup pair list by min-label
    * propagation with pointer doubling — the final step of a dedup
    * pipeline: pairs say "these are the same document"; components decide
    * which single copy survives (the minimum id).
    *
    * Each round does (1) neighbor propagation (my label := min over my
    * neighbors' labels) and (2) a label-shortcut join (my label := my
    * label's label), so the reach roughly doubles per round and
    * convergence is O(log diameter), not O(diameter) — `maxIters = 20`
    * covers diameters beyond 2^20. Non-convergence is an error, never a
    * silent component split: `keepOnePerComponent` downstream would
    * otherwise quietly keep duplicates.
    *
    * Scale: each round is three shuffles on (node, label); lineage is cut
    * with a checkpoint every round so long plans never build up. The
    * DEFAULT cut is `localCheckpoint` — fastest, but its blocks live on
    * executors and die with them, so on a real multi-executor cluster a
    * lost executor fails the job mid-iteration. Pass `checkpointDir`
    * (HDFS/S3 path) to cut lineage with a RELIABLE cut instead: each
    * round's labels are written to fault-tolerant storage as a parquet
    * table and read back, so the iteration survives executor loss at
    * the cost of one write+read of an (id, component) table per round —
    * id-width rows, cheap relative to the round's three shuffles. Flip
    * it for any run long enough that losing an executor is expected
    * (i.e. every real 100 TB run); keep the default for local/short
    * jobs.
    *
    * The reliable cut is self-managed (NOT `SparkContext.checkpoint`):
    * nothing session-wide is repointed, a round's table is deleted as
    * soon as the next round is materialized, and on non-convergence
    * every round table is deleted. Round tables live under a per-call
    * unique subdirectory, so concurrent or repeated calls may share one
    * `checkpointDir` without clobbering each other. Only the FINAL
    * round's table survives — the returned frame reads from it, so it
    * must outlive the call; delete `checkpointDir` after consuming the
    * result.
    *
    * The loop plans on its own session: a clone of the caller's (every
    * runtime SQL setting kept) that differs only in the shuffle width,
    * sized to the edge count. The caller's session conf is never written,
    * so concurrent queries on it keep their own width; the returned frame
    * belongs to the caller's session.
    *
    * Input: (id_a, id_b) pairs. Output: (id, component) for every id
    * that appears in any pair; component = min id reachable. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val fs = checkpointDir.map { d =>
      new org.apache.hadoop.fs.Path(d)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
    }
    // Per-call unique prefix: two connectedComponents calls sharing one
    // checkpointDir (or a rerun while a prior call's returned lazy frame
    // is still unconsumed — it reads the final round's files) must not
    // clobber or delete each other's round tables.
    val runToken = java.util.UUID.randomUUID().toString
    def roundPath(i: Int) = s"${checkpointDir.get}/graft_cc_$runToken/round_$i"
    def dropRound(i: Int): Unit = for (f <- fs) {
      val p = new org.apache.hadoop.fs.Path(roundPath(i))
      if (f.exists(p)) f.delete(p, true)
    }
    // Both edge directions from ONE scan of `pairs`: a union of two
    // selects would execute the (expensive, possibly unpersisted) pair
    // pipeline twice before this cache populates.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .trackedPersist()
    // r19 opt (guide §2.2/§2.4): size the iteration's shuffles to the
    // EDGE COUNT, not the session's shuffle-partition constant. Each
    // round is three exchanges over 16-byte (node, label) rows, and the
    // checkpoint pins whatever partition count the round planned with —
    // AQE cannot re-coalesce a checkpointed layout, so at bench scale
    // every round dragged 32-64 near-empty tasks per stage (measured:
    // most of neardup_survivors' wall was stage scheduling, StageLab
    // r19). ~2 M edges per partition ≈ 32 MB rows — the guide's
    // 100 MB-1 GB post-shuffle band after join fan-out — and the count
    // is free: it materializes the edge cache the first round would
    // have materialized anyway. The width applies to the loop's own
    // session (below), never to the caller's; label values are
    // partitioning-independent, so answers are unchanged.
    val nEdges = edges.count()
    val ccParts = math.max(1L, math.min(nEdges / 2000000L + 1L,
      spark.sparkContext.defaultParallelism.toLong * 4L)).toInt
    // The edge cache inherits the PAIR pipeline's partitioning (at bench
    // scale a 64-partition union), and every round's propagate join
    // streams over it — re-laying it out once at ccParts keeps each
    // round's scan task count proportional to the data too. coalesce is
    // a narrow re-read of the already-materialized cache, not a shuffle.
    val edgesCc =
      if (edges.rdd.getNumPartitions <= ccParts) edges
      else {
        val e = edges.coalesce(ccParts).trackedPersist()
        e.count()
        edges.unpersist(blocking = false)
        e
      }
    // The loop's own session (see above): it shares the cache manager, so
    // the rebound edges read the cache above, and the reliable cut reads
    // back through it, so no round joins two sessions' frames.
    val loop = SessionShim.cloneWithShufflePartitions(spark, ccParts)
    def cut(df: DataFrame, round: Int): DataFrame =
      if (checkpointDir.isDefined) {
        df.write.mode("overwrite").parquet(roundPath(round))
        val back = loop.read.parquet(roundPath(round))
        dropRound(round - 1) // the new round is durable; its parent is dead weight
        back
      } else df.localCheckpoint()
    val loopEdges = SessionShim.rebind(edgesCc, loop)
    var labels = loopEdges.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("component"))
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // propagate: my new label = min(my label, labels of my neighbors)
      val viaNeighbor = loopEdges
        .join(labels.withColumnRenamed("id", "dst_id"), col("dst") === col("dst_id"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("n_comp"))
      // the pre-round label rides along as `old`, so convergence detection
      // below is a filter over the checkpointed rows instead of a shuffle
      // join back against the previous iteration
      val propagated = labels.join(viaNeighbor, Seq("id"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"), coalesce(col("n_comp"), col("component"))).as("component"))
      // pointer doubling: follow my label to ITS label (labels are node
      // ids, so every label is a key in `propagated`). This is what turns
      // chain graphs from one hop per round into doubling reach per round.
      val shortcut = propagated
        .select(col("id").as("l_id"), col("component").as("l_comp"))
      val next = cut(propagated.join(shortcut, propagated("component") === col("l_id"), "left")
        .select(col("id"), col("old"),
          least(col("component"), coalesce(col("l_comp"), col("component"))).as("component")),
        iter)
      val changed = next.filter(col("component") =!= col("old")).limit(1).count()
      labels = next.drop("old")
      converged = changed == 0
      iter += 1
    }
    edgesCc.unpersist()
    if (!converged) {
      // result unusable; leave nothing behind (the whole per-call dir)
      for (f <- fs) {
        val p = new org.apache.hadoop.fs.Path(s"${checkpointDir.get}/graft_cc_$runToken")
        if (f.exists(p)) f.delete(p, true)
      }
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters iterations — " +
          "raise maxIters; refusing to return split components")
    }
    SessionShim.rebind(labels, spark)
  }

  private val DriverPairCap = 1 << 18

  /** Survivors after near-dup removal: every id in `df` minus non-minimal
    * members of each near-dup component.
    *
    * The pairs are projected to `(id_a, id_b)`, persisted and counted;
    * that one action runs the pair pipeline. A list of at most
    * `DriverPairCap` = 2^18 pairs (the near-dup pairs of a corpus whose
    * copies are rare) is collected and labelled on the driver by
    * union-find with the least id as root — one job instead of the
    * loop's per-call fixed cost (edge re-layout, a checkpointed round,
    * the convergence count: 6 of 32 jobs and 40 % of the perfbench
    * `survivors` step, whose graph has 4 pairs).
    * That holds at most 2^18 rows of two ids and 2^19 union-find entries
    * on the driver: about 50 MB at Long ids, plus the characters of
    * String ids. Larger lists, and ids of a type other than an integral
    * or binary-collated String one, go to the distributed
    * [[connectedComponents]] loop on the same persisted projection, so
    * the pair pipeline still runs once and a large graph is never
    * collected. `checkpointDir` applies to the loop only.
    *
    * [[connectedComponents]] keeps the loop for every size: it returns a
    * distributed (id, component) frame that callers may join or write,
    * and its `maxIters` contract and reliable round tables are part of
    * its API. Only this consumer, which needs nothing but the ids to
    * drop, takes the driver path. */
  def keepOnePerComponent(df: DataFrame, idCol: String, pairs: DataFrame,
      checkpointDir: Option[String] = None): DataFrame =
    keepOnePerComponent(df, idCol, pairs, checkpointDir, DriverPairCap)

  /** [[keepOnePerComponent]] with the driver path's pair cap as a
    * parameter, for tests: `0` sends every non-empty pair list to the
    * loop. */
  private[operators] def keepOnePerComponent(df: DataFrame, idCol: String, pairs: DataFrame,
      checkpointDir: Option[String], driverPairCap: Long): DataFrame = {
    val edges = pairs.select("id_a", "id_b").trackedPersist()
    val nPairs = edges.count()
    val idType = edges.schema.head.dataType
    val ordering =
      if (nPairs > driverPairCap || edges.schema(1).dataType != idType) None
      else driverIdOrdering(idType)
    val drop = ordering match {
      case Some(ord) =>
        val rows = unionFindNonRoots(edges.collect().iterator.map(r => (r.get(0), r.get(1))), ord)
          .map(id => org.apache.spark.sql.Row(id)).toSeq
        df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", idType))))
      case None =>
        connectedComponents(edges, checkpointDir = checkpointDir)
          .filter(col("id") =!= col("component"))
    }
    df.join(drop.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** The ordering Spark's `min`/`least` give ids of type `t`, for the
    * types the driver path labels; `None` sends the ids to the loop. */
  private def driverIdOrdering(t: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    t match {
      case LongType | IntegerType | ShortType | ByteType =>
        Some(Ordering.by[Any, Long](_.asInstanceOf[Number].longValue))
      case StringType => // the default, binary collation only
        Some(Ordering.by[Any, org.apache.spark.unsafe.types.UTF8String](v =>
          org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])))
      case _ => None
    }
  }

  /** Every id of `pairs` that is not the least id of its connected
    * component. Pairs with a null id join nothing, as in the loop. */
  private def unionFindNonRoots(pairs: Iterator[(Any, Any)], ord: Ordering[Any]): Iterable[Any] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var root = x
      var p = parent.getOrElseUpdate(root, root)
      while (p != root) { root = p; p = parent(root) }
      var y = x
      while (y != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    for ((a, b) <- pairs if a != null && b != null) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.collect { case (id, p) if id != p => id }
  }

  /** Threshold-1.0 near-dup survivors by SET SIGNATURE — the scale path
    * for exact-duplicate removal over the n-gram family's equivalence.
    * Jaccard exactly 1.0 means identical distinct-shingle sets, which is
    * an equivalence relation, so the pairs → connectedComponents tail is
    * structurally unnecessary (components are signature classes) and the
    * pair list itself is quadratic in clique size. Worse, the general
    * Jaccard plans stop seeing these pairs entirely once any shingle's
    * document frequency exceeds their df-cap (see [[ngramJaccardPairs]]:
    * identical texts report u/(2n−u) < 1.0 when u < n shingles survive
    * the cap — at the 5M-doc rung that silently returned zero merges).
    *
    * Plan: hash each doc's sorted distinct shingle-hash array
    * ([[shingleHashUdf]]) to one 64-bit signature, group on it, keep the
    * minimal id per class. The only exchanges move 16-byte
    * (signature, id) rows — map-side-combinable min, then an id-only
    * anti-join — linear at any corpus size; document text never
    * shuffles. Docs with fewer than `k` words have no shingles, never
    * pair anywhere in the n-gram family, and therefore ALL survive (the
    * empty set is not treated as a class). Agrees pairwise with
    * `keepOnePerComponent(ngramJaccardPairs(…, threshold = 1.0))` in the
    * regime where no shingle is df-capped (spec-pinned); beyond that
    * regime the general plan under-merges by contract and this operator
    * is the correct tool. Signature collisions are the same accepted
    * 2^-64-per-pair risk class as [[collapseByText]]. */
  def setSignatureSurvivors(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val sig = spread(df)
      .select(col(idCol).as("id"), shingleHashUdf(k)(col(textCol)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), xxhash64(col("sh")).as("sig"))
      .trackedPersist()
    val mins = sig.groupBy("sig").agg(min("id").as("keep"))
    val drop = sig.join(mins, "sig")
      .filter(col("id") =!= col("keep"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold. Candidates come
    * from random-hyperplane LSH (deterministic seeded planes); exact cosine
    * verifies. See [[Similarity]] for the shared plumbing.
    *
    * `planes`/`bands` set the bucket geometry, and they are the SCALE
    * knob: bits per band = planes/bands. Few bits concentrate dense
    * corpora into huge buckets — the candidate join is quadratic IN THE
    * BUCKET, and each candidate pair carries two dim-width vectors
    * through the exchange (measured: 20 K clustered 256-wide vectors
    * under the old 16×4 default — 4 bits, 16 buckets per band — ran 12+
    * minutes and died; 64×8 — 8 bits, 256 buckets per band, ~0.99
    * expected recall at 0.95 cosine — runs in seconds, see SCALE.md
    * r10). That measured foot-gun is why the DEFAULT (`planes = bands =
    * 0`) now derives geometry from one cheap corpus count
    * ([[Similarity.autoLshGeometry]]): bits grow until expected bucket
    * size is bounded (2^bits · 128 ≥ n), bands recover recall at the
    * given `cosineThreshold`. Explicit values keep full manual control;
    * the rule of thumb is 2^(planes/bands) ≫ corpus_size /
    * tolerable_bucket_size, then add bands to recover recall
    * (P(hit) = 1-(1-s^bits)^bands, s = 1-acos(threshold)/π).
    *
    * NOTE: auto geometry runs an EAGER `df.count()` before the real
    * work — an extra action that recomputes an expensive un-cached
    * upstream pipeline once more. Either pin the input
    * (`df.persist()`) before calling, or pass `knownCount` (> 0) when
    * the corpus size is already known (a catalog row count, a prior
    * action) to skip the count entirely; explicit `planes`/`bands`
    * never count. */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      cosineThreshold: Double = 0.95,
      planes: Int = 0,
      bands: Int = 0,
      knownCount: Long = 0L): DataFrame = {
    require((planes == 0) == (bands == 0),
      "pass both planes and bands explicitly, or neither (auto geometry)")
    val (p, b) =
      if (planes == 0) Similarity.autoLshGeometry(
        if (knownCount > 0) knownCount else df.count(), cosineThreshold)
      else (planes, bands)
    val banded = Similarity.hyperplaneBuckets(df, idCol, vecCol, dim, p, b)
    // The bucket self-join moves ID-WIDTH rows only (column pruning drops
    // the vector before the per-band explode), and pairs dedupe BEFORE
    // vectors attach — so a pair colliding in all `bands` bands costs one
    // dot product, not `bands`, and the quadratic-in-bucket exchange never
    // carries dim-width payloads. Measured (20 K clustered 256-wide, 64×8):
    // 135 s with vectors riding the bucket join → 16 s this way.
    val slim = banded.select(col("band"), col("bucket"), col("id"))
    val pairs = slim.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(slim.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    // vectors re-derive from the input (not from `banded`, whose explode
    // holds `bands` copies of every vector — deduping those would shuffle
    // dim-width rows bands times over)
    val vecs = df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), "id_b")
      .withColumn("cosine", Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= cosineThreshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  // ---- exact substring dedup (duplicated-span removal) -------------------

  /** Exact substring deduplication: remove from every document each
    * character position covered by a length-`k` window whose text occurs
    * at `minCount`+ positions anywhere in the corpus (other documents OR
    * elsewhere in the same one — self-repetition counts). This is the
    * span-removal dedup of Lee et al. '21 ("Deduplicating Training Data
    * Makes Language Models Better"), re-expressed as dataframe passes
    * instead of a corpus-wide suffix array: stride-1 windows make the
    * window-multiset equivalent to the suffix-array formulation for
    * duplicated substrings of length ≥ k, with removal granularity k.
    *
    * Scale shape (the suffix array would need a global sort of every
    * corpus position — the one shape to avoid):
    *  1. window pass: per-position 64-bit `xxhash64` of the k-char gram,
    *     computed in codegen off a `sequence`+`explode` generator; ONLY
    *     (id, i, hash) reaches the aggregate — 16-ish-byte rows, map-side
    *     combinable count per hash.
    *  2. candidate join back on duplicated hashes; gram STRINGS
    *     materialize only for candidate windows (the near-dup family's
    *     verify discipline), and travel one exchange grouped by gram to
    *     confirm exact multiplicity — hash collisions cannot remove text.
    *  3. covered windows merge to disjoint spans per doc with one
    *     id-partitioned window pass (gaps-and-islands), id-width rows.
    *  4. one join puts spans next to their documents; the cut is a tight
    *     per-doc loop (UDF, code-point-aware slicing).
    * The corpus is scanned twice (hash pass + candidate re-extraction) —
    * deliberate: persisting the position table would cache ~16 bytes per
    * corpus character, far worse than a rescan at 100 TB.
    *
    * `sampleMod` > 1 is the scale knob: windows are kept when
    * `hash % sampleMod == 0` — content-based (Rabin/Manber "0 mod p"
    * fingerprint sampling), so both copies of a duplicated substring keep
    * the SAME windows regardless of alignment, unlike positional striding.
    * Expected window density 1/sampleMod (shuffle shrinks by that factor);
    * duplicated spans ≳ k·sampleMod chars are still caught whp, with
    * boundary precision coarsened to the sampled windows' coverage.
    * `sampleMod = 1` is exact and oracle-checkable.
    *
    * `keepFirst = true` keeps each duplicated gram's CANONICAL occurrence
    * (minimum (id, i)) uncut — the paper's actual policy (one copy of
    * duplicated text survives). For a full-copy doc pair this yields
    * survivor semantics: the lower id keeps all its text (every window's
    * canonical occurrence), the copy is wiped. Default `false` removes
    * every occurrence — the stricter hygiene some pipelines want.
    *
    * `hotGramCap` is the skew guard: grams duplicated more than this many
    * times take a broadcast path for their occurrence join (see the
    * in-body comment). It changes the PHYSICAL plan only — output is
    * identical at any cap — so the default is a partition-size bound
    * (~100K × ~60 B rows ≈ 6 MB per gram partition), not a tuning burden.
    *
    * Returns (idCol, clean_text, n_removed); docs shorter than `k` or
    * containing no duplicated window pass through unchanged. */
  def substringDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 40,
      sampleMod: Int = 1,
      minCount: Int = 2,
      keepFirst: Boolean = false,
      hotGramCap: Long = 100000L): DataFrame = {
    require(k >= 2, "window length k must be >= 2")
    require(sampleMod >= 1, "sampleMod must be >= 1")
    require(minCount >= 2, "minCount must be >= 2")
    require(hotGramCap >= 2, "hotGramCap must be >= 2")
    val d = spread(df.select(col(idCol), col(textCol))).trackedPersist()

    // 1. per-position window hashes; only (id, i, h) survives projection
    def windows: DataFrame = {
      val w = d.select(col(idCol).as("id"), col(textCol).as("t"))
        .select(col("id"), col("t"), explode(windowStarts(col("t"), k)).as("i"))
        .select(col("id"), col("i"),
          xxhash64(col("t").substr(col("i"), lit(k))).as("h"))
      if (sampleMod > 1) w.filter(pmod(col("h"), lit(sampleMod.toLong)) === 0L)
      else w
    }
    val dupHash = windows.groupBy("h")
      .agg(count(lit(1)).as("c")).filter(col("c") >= minCount).select("h")

    // 2. candidate windows -> exact gram verification. Group the candidate
    //    positions per doc BEFORE touching text so a heavily-duplicated
    //    document joins its text once, not once per window; the explode
    //    after the join is pipelined and only (id, i, gram) reaches the
    //    verify exchange.
    // (the hash-level join shuffles 16-byte rows; a hot hash's partition
    // is an AQE skew-join split candidate — inner SMJ, splittable — and
    // the immediately-following aggregate re-keys on id, so no downstream
    // stage inherits the hash key. The string-gram stages below, where
    // rows are wider and a rank window used to sit, get the structural
    // guard instead.)
    val candPos = windows.join(dupHash, "h")
      .groupBy("id").agg(collect_list(col("i")).as("is"))
    val candGrams = candPos
      .join(d.select(col(idCol).as("id"), col(textCol).as("t")), "id")
      .select(col("id"), explode(col("is")).as("i"), col("t"))
      .select(col("id"), col("i"), col("t").substr(col("i"), lit(k)).as("gram"))
      .trackedPersist()
    // Skew guard (the n-gram family's dfCap lesson, adapted): every
    // gram-keyed stage here is structurally bounded, so one ubiquitous
    // boilerplate gram (a page header duplicated 10^6×) cannot create an
    // unbounded hot partition at 100×:
    //  - the two counts (dupGram here, dupHash above) are hash aggregates
    //    with map-side partial combine — each task emits ONE row per gram
    //    before the exchange, whatever the occurrence count;
    //  - the occurrence join splits on `hotGramCap`: hot grams — few by
    //    construction, ≤ totalWindows/cap of them — resolve through a
    //    map-side BROADCAST join, and the warm shuffle join's probe side
    //    is anti-broadcast-filtered FIRST, so a hot gram's million
    //    occurrence rows never enter a gram-keyed exchange at all (the
    //    filter must precede the shuffle: an unmatched probe row still
    //    shuffles) — per-gram partition load is then ≤ cap rows;
    //  - keepFirst's canonical pick is a combinable min(struct(id, i))
    //    aggregate + anti-join, NOT a rank window (a window over
    //    partitionBy(gram) is the one shape AQE cannot split); the
    //    anti-join is per-branch — cap-bounded for warm grams, broadcast
    //    for hot — see the comment at the definition.
    // `hotGramCap` is purely physical — results are identical on both
    // sides of the split — so oracle semantics are unchanged at any cap.
    // persisted: the warm filter and both hot-gram broadcasts read it —
    // one row per duplicated gram, far smaller than candGrams
    val dupGramC = candGrams.groupBy("gram")
      .agg(count(lit(1)).as("c")).filter(col("c") >= minCount)
      .trackedPersist()
    val warmGram = dupGramC.filter(col("c") <= hotGramCap).select("gram")
    val hotGram = dupGramC.filter(col("c") > hotGramCap).select("gram")
    val warmOcc = candGrams
      .join(broadcast(hotGram), Seq("gram"), "left_anti")
      .join(warmGram, "gram")
    val hotOcc = candGrams.join(broadcast(hotGram), "gram")
    // canonical (minimum (id, i)) occurrence per gram; the aggregate is
    // map-side combinable in both branches. Computed PER BRANCH (a gram is
    // warm or hot, never both, so branch-local minima are global) because
    // the anti-join below inherits the aggregate's hash(gram) partitioning
    // through EnsureRequirements' subset-key matching — the warm branch is
    // bounded by the cap there, and the hot branch must not take a
    // gram-keyed exchange at all: its canonical set is ≤ one row per hot
    // gram (≤ totalWindows/cap rows by construction), so it broadcasts.
    def canonOf(occ: DataFrame): DataFrame = occ.groupBy("gram")
      .agg(min(struct(col("id"), col("i"))).as("m"))
      .select(col("gram"), col("m").getField("id").as("id"),
        col("m").getField("i").as("i"))
    def nonCanonical(occ: DataFrame, canon: DataFrame): DataFrame =
      occ.join(canon, Seq("gram", "id", "i"), "left_anti")
        .select(col("id"), col("i"))
    val covered =
      if (!keepFirst)
        warmOcc.select(col("id"), col("i"))
          .unionByName(hotOcc.select(col("id"), col("i")))
      else
        nonCanonical(warmOcc, canonOf(warmOcc))
          .unionByName(nonCanonical(hotOcc, broadcast(canonOf(hotOcc))))

    cutCoveredWindows(d, idCol, textCol, covered, k)
  }

  /** Per-position length-`k` window starts (1-based) as a generator
    * column; empty below `k` characters. Shared by the span-removal
    * family ([[substringDedup]], [[Curation.scrubSpans]]). */
  private[operators] def windowStarts(t: Column, k: Int): Column =
    when(length(t) >= k, sequence(lit(1), length(t) - (k - 1)))
      .otherwise(array().cast("array<int>"))

  /** Tail of the span-removal family: merge covered windows (id, i) —
    * each covering [i, i+k-1] — into disjoint spans (one id-partitioned
    * gaps-and-islands window pass over id-width rows) and cut each doc
    * once. Returns (idCol, clean_text, n_removed); docs with no covered
    * window pass through unchanged. */
  private[operators] def cutCoveredWindows(
      d: DataFrame, idCol: String, textCol: String,
      covered: DataFrame, k: Int): DataFrame = {
    val wSpec = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("i")
    val running = wSpec.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val spans = covered
      .withColumn("e", col("i") + (k - 1))
      .withColumn("prev_e", max(col("e")).over(running))
      .withColumn("new_island",
        when(col("prev_e").isNull || col("i") > col("prev_e") + 1, 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(
        wSpec.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("id", "island").agg(min(col("i")).as("s"), max(col("e")).as("e"))
      .groupBy("id").agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"))

    // cut: spans are sorted, disjoint, 1-based inclusive code-point
    // offsets (Spark substr counts code points, so multibyte text needs
    // code-point-aware slicing, not Java char arithmetic)
    d.join(spans.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("clean_text",
        when(col("spans").isNull, col(textCol))
          .otherwise(cutSpansUdf(col(textCol), col("spans"))))
      .withColumn("n_removed",
        (length(col(textCol)) - length(col("clean_text"))).cast("long"))
      .select(col(idCol), col("clean_text"), col("n_removed"))
  }

  private val cutSpansUdf = udf { (text: String, spans: Seq[org.apache.spark.sql.Row]) =>
    // code-point slice [fromCp, toCp], 1-based inclusive
    def slice(fromCp: Int, toCp: Int): String = {
      val a = text.offsetByCodePoints(0, fromCp - 1)
      val b = text.offsetByCodePoints(a, toCp - fromCp + 1)
      text.substring(a, b)
    }
    val nCp = text.codePointCount(0, text.length)
    val sb = new java.lang.StringBuilder
    var cur = 1
    spans.foreach { r =>
      val s = r.getInt(0); val e = r.getInt(1)
      if (s > cur) sb.append(slice(cur, s - 1))
      cur = math.max(cur, e + 1)
    }
    if (cur <= nCp) sb.append(slice(cur, nCp))
    sb.toString
  }
}
