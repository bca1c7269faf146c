package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for training-data pipelines: deterministic
  * sampling, test-set decontamination, corpus n-gram statistics and
  * lexical relevance scoring (TF-IDF / BM25).
  *
  * Everything here is a pure DataFrame transform built from codegen'd SQL
  * expressions (oracle-checkable in any ANSI engine) — no RNG, no
  * driver-side loops, no collect. The reference engine has no analogue
  * (it is a tabular I/O library); these are the beyond-reference ops a
  * 100 TB text pipeline needs around the I/O layer.
  */
object Curation {

  /** Knuth multiplicative mix of a non-negative integer key into
    * [0, 2^32): `(key * 2654435761) mod 2^32`. Deterministic, stateless,
    * and expressible in plain SQL (the multiply stays far inside BIGINT
    * for any realistic id — overflow-free up to keys of ~3.4e9, and ids
    * beyond that should be pre-folded with a modulus). Used instead of a
    * seeded RNG so samples are reproducible across engines AND across
    * reruns — the property that matters for dataset lineage.
    *
    * MIGRATION (r11): keys outside [0, ~3.47e9] used to wrap silently
    * (engine-divergent, permutation-degrading); they now raise in-plan,
    * mid-job, from every consumer ([[deterministicSample]],
    * [[splitAssign]], [[stratifiedSample]], shard/epoch assignment).
    * Hash-derived keys — xxhash64 spans the FULL signed BIGINT range,
    * negatives included — must be pre-folded: pass `foldKey(col)`
    * instead of `col`, the one-line fix. Note the guard sits inside
    * filter predicates, so Catalyst predicate reordering may evaluate
    * it for rows another conjunct would discard — fold FIRST rather
    * than relying on upstream filters to hide bad keys. */
  def mixKey(key: Column): Column =
    pmod(guardEnvelope(key) * lit(2654435761L), lit(4294967296L))

  /** Fold an arbitrary BIGINT key (negatives included — e.g. raw
    * xxhash64 fingerprints) into [[mixKey]]'s overflow-free envelope:
    * `pmod(key, MixEnvelopeMax + 1)`. Deterministic, ANSI-expressible
    * (`key % m` adjusted non-negative), and uniform over the envelope
    * for hash-distributed inputs, so `mixKey(foldKey(xxhash64(text)))`
    * keeps every reproducibility property with no overflow hazard. */
  def foldKey(key: Column): Column =
    pmod(key, lit(MixEnvelopeMax + 1L))

  /** Largest pre-mix value whose multiply by 2654435761 stays inside
    * BIGINT: floor(Long.MaxValue / 2654435761) = 3474748124. */
  private[operators] val MixEnvelopeMax: Long =
    Long.MaxValue / 2654435761L

  /** Enforce the documented overflow-free envelope IN-PLAN: a pre-mix
    * value outside [0, ~3.47e9] would silently wrap on the multiply,
    * diverge from any ANSI oracle, and degrade permutation quality —
    * so fail loudly instead (one codegen'd compare per row; values
    * inside the envelope are passed through bit-identical, so every
    * oracle replay is unchanged). Huge id spaces should be pre-folded
    * with a modulus, per the [[mixKey]] scaladoc.
    *
    * CAVEAT: when [[mixKey]] lands inside a filter predicate, Catalyst
    * may reorder conjuncts and evaluate this `raise_error` for rows a
    * sibling conjunct would have discarded — an upstream "WHERE id <
    * bound" does NOT reliably shield out-of-envelope keys from the
    * guard. Treat the envelope as a property of the COLUMN, not of the
    * filtered subset: [[foldKey]] first whenever any source row could
    * be outside it. */
  private def guardEnvelope(preMix: Column): Column =
    when(preMix >= 0L && preMix <= MixEnvelopeMax, preMix)
      .otherwise(raise_error(concat(
        lit("mixKey: pre-mix value "), preMix.cast("string"),
        lit(s" outside the overflow-free envelope [0, $MixEnvelopeMax]; " +
          "pre-fold huge id spaces with a modulus (see mixKey scaladoc)"))))

  /** Deterministic fraction sample: keep rows whose mixed key falls below
    * the fraction threshold. Scale: a pure filter — no shuffle, pushes
    * past column pruning, and the same row set comes back on every run
    * and every engine (unlike `df.sample`, whose seed interacts with
    * partitioning). `fraction` is quantized to 1e-6. */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction out of [0,1]")
    df.filter(mixKey(col(keyCol)) < lit((fraction * 4294967296.0d).toLong))
  }

  /** Deterministic stratified sample: the `n` rows with the smallest
    * mixed key per stratum — every stratum is represented (up to its
    * size), sampling within a stratum is unbiased in the key, and the
    * result is stable across runs/engines. Keys must be unique within
    * a stratum (they already must be for the determinism claim).
    *
    * Scale shape: for BIGINT keys (every graft corpus) the per-stratum
    * rank runs as the [[graft.plans.TopKByScore]] bounded-heap
    * aggregate — each input partition emits at most n pairs per
    * stratum into the exchange, and the picked (stratum, key, rk) set
    * (≤ strata·n rows — broadcast-sized unless strata number in the
    * millions, where AQE falls back to a shuffle join) re-attaches by
    * an equi-join left to the planner's size stats. The row_number
    * window this replaces shuffled the WHOLE table and sorted each
    * stratum in a single task — with 10 strata over 100 TB that is a
    * 10 TB task; the heap path has no such cliff. The second scan it
    * costs reads only (stratum, key) columns (pruned). Tie-break is
    * identical (mixKey asc, key asc; spec-pinned vs the window).
    * Exotic key types keep the window path. Measured crossover
    * (SCALE.md r13, payload-honest A/B at 100M and 1B rows × 5
    * strata): a single box absorbs the per-stratum sorts (RAM at
    * 100M, spill at 1B) and the window wins ~1.4–1.5× there — the
    * heap form is the default for its cluster shape (bounded task
    * memory, parallelism from input partitions rather than stratum
    * count, no full-table network exchange), not for single-node
    * wall time. */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    if (df.schema(keyCol).dataType == LongType) {
      val picked = df
        .groupBy(col(stratumCol))
        .agg(graft.plans.TopKByScore.topKCol(
          -mixKey(col(keyCol)).cast("double"), col(keyCol), n).as("tk"))
        .select(col(stratumCol).as("_g_stratum"), posexplode(col("tk")).as(Seq("_g_pos", "_g_e")))
        .select(col("_g_stratum"), col("_g_e.id").as("_g_key"),
          (col("_g_pos") + 1).cast("int").as("rk"))
      df.join(picked,
          df(stratumCol) <=> picked("_g_stratum") && df(keyCol) === picked("_g_key"))
        .drop("_g_stratum", "_g_key")
    } else {
      val w = Window.partitionBy(col(stratumCol)).orderBy(mixKey(col(keyCol)), col(keyCol))
      df.withColumn("rk", row_number().over(w)).filter(col("rk") <= n)
    }
  }

  /** Deterministic train/val/test split assignment: each row gets the
    * label of the bucket its mixed key falls into, with bucket widths
    * proportional to the given fractions (which must sum to ≤ 1; any
    * remainder goes to the last label, so `Seq("train"->0.9, "val"->0.05,
    * "test"->0.05)` is exact).
    *
    * Scale: a pure stateless projection — no shuffle, no RNG, no global
    * pass. The same row lands in the same split on every engine, every
    * rerun, and every subset of the data (rows can be assigned
    * independently on 1000 executors with zero coordination — the
    * property a 100 TB split job needs). Adding data later never moves an
    * existing row between splits. */
  def splitAssign(df: DataFrame, keyCol: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty, "need at least one split")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9, "fractions must sum to <= 1")
    val bucket = mixKey(col(keyCol))
    val cums = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val firstCase: Column = when(
      bucket < lit((cums.head * 4294967296.0d).toLong), lit(fractions.head._1))
    val cased = fractions.tail.zip(cums.tail).dropRight(1).foldLeft(firstCase) {
      case (acc, ((label, _), cum)) =>
        acc.when(bucket < lit((cum * 4294967296.0d).toLong), lit(label))
    }
    val full = if (fractions.size == 1) firstCase.otherwise(lit(fractions.head._1))
               else cased.otherwise(lit(fractions.last._1))
    df.withColumn("split", full)
  }

  /** Leakage-safe train/val/test assignment: identical documents share a
    * fate. The split key is the duplicate-group REPRESENTATIVE (min id
    * over each content group), so copies of one text can never straddle
    * train and test — the guard a per-doc [[splitAssign]] cannot give
    * (one leaked duplicate invalidates the eval). For near-dup safety
    * compute the connected-component survivor id ([[Dedup.components]])
    * and call [[splitAssign]] on that instead.
    *
    * Scale shape (the [[Dedup]] collapseByText discipline — a window over
    * xxhash64(text) would haul full rows through its exchange): the
    * representative comes from a map-side-combinable groupBy over the
    * (id, fp) projection — that exchange carries 16-byte rows — and rides
    * back on an fp join. When the caller prunes the text column from the
    * output (the usual assignment-manifest shape), Catalyst prunes it
    * below the join exchange too, so no exchange moves text at all;
    * keeping text costs the one unavoidable content-bearing shuffle. A
    * hash collision merges two groups into one fate: conservative (never
    * causes leakage, only an infinitesimal mixture shift). Output adds
    * (rep_id, split). */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       fractions: Seq[(String, Double)]): DataFrame = {
    val withFp = df.withColumn("__fp", xxhash64(col(textCol)))
    val reps = withFp.select(col(idCol), col("__fp"))
      .groupBy("__fp").agg(min(col(idCol)).as("rep_id"))
    splitAssign(withFp.join(reps, Seq("__fp")).drop("__fp"),
      "rep_id", fractions)
  }

  /** Deterministic global shuffle into `numShards` output shards: shard
    * by mixed key, position within a shard by (mixed key, key). Together
    * (shard, pos) define a reproducible corpus-wide training order — the
    * "shuffle the dataset once per epoch" primitive — without any global
    * sort: the only exchange is the shard partitioning, and each shard
    * orders independently. Rerun- and engine-stable like all mixed-key
    * ops. At 100 TB pick numShards ≈ desired output files; each window
    * sorts one shard (≈ corpus/numShards rows). */
  def shardAssign(df: DataFrame, keyCol: String, numShards: Int): DataFrame =
    epochShuffle(df, keyCol, numShards, epoch = 0L)

  /** Seeded [[mixKey]]: shifts the key by `seed · 1000003` (a prime
    * stride) before mixing, so each seed induces an independent-looking
    * but fully deterministic permutation. Same SQL-replicable arithmetic
    * and the same overflow-free envelope: (key + seed·1000003) must stay
    * under ~3.4e9 — epochs are small integers and huge id spaces should
    * be pre-folded, as with [[mixKey]]. The envelope is now ENFORCED
    * in-plan (not just documented): a violating row raises instead of
    * silently wrapping and diverging from the oracle. */
  def mixKeySeeded(key: Column, seed: Long): Column =
    pmod(guardEnvelope(key + lit(seed * 1000003L)) * lit(2654435761L),
      lit(4294967296L))

  /** Per-epoch deterministic reshuffle: [[shardAssign]]'s (shard, pos)
    * training order, re-drawn under a per-epoch seed — "reshuffle the
    * corpus each epoch" without RNG state, rerun- and engine-stable, and
    * each epoch's order reproducible in isolation (resume a run at epoch
    * 17 without replaying 16 shuffles). Epoch 0 is exactly
    * [[shardAssign]]. Scale shape is unchanged: one exchange on the
    * shard key, each window sorts ≈ corpus/numShards rows, no global
    * sort anywhere. */
  def epochShuffle(df: DataFrame, keyCol: String, numShards: Int, epoch: Long): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val mixed = mixKeySeeded(col(keyCol), epoch)
    val w = Window.partitionBy(col("shard")).orderBy(mixed, col(keyCol))
    df.withColumn("shard", (mixed % numShards).cast("int"))
      .withColumn("pos", row_number().over(w))
  }

  /** Per-row weighted (mixture) sampling: keep a row iff its mixed key
    * falls below `weight` (a column in [0,1], typically a per-source
    * sampling rate joined or CASE-mapped on). This is the corpus-mixture
    * primitive: upweight/downweight sources by keep-rate while staying
    * deterministic and rerun-stable. A pure filter — no shuffle; the
    * weight lookup should ride a broadcast join or a literal CASE. */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column): DataFrame =
    df.filter(mixKey(col(keyCol)) < (weight * lit(4294967296.0d)).cast("long"))

  /** Temperature-flattened corpus mixture (the multilingual-pretraining
    * recipe, XLM-R-style): per-source keep-rates computed IN-PLAN from
    * the source counts so that kept mass ∝ n_s^alpha — alpha = 1 keeps
    * natural proportions, alpha → 0 equalizes sources; `targetFrac`
    * scales the overall kept fraction. Rates are derived, rounded to 9
    * dp (absorbing cross-engine pow ulps), and applied as the same
    * deterministic mixed-key filter as [[weightedSample]] (floor
    * threshold — truncation and floor agree on non-negative rates, so
    * any ANSI oracle replays the exact row set).
    *
    * Scale shape: one map-side-combinable count by source (source
    * cardinality is tiny by nature), a one-row total, rates broadcast
    * back — the corpus itself never shuffles; the sample is a pure
    * filter. Rates cap at 1 (a source can't up-sample beyond itself;
    * the standard cap in temperature sampling without replication).
    * Returns the kept rows + their source's `rate`. */
  def temperatureSample(df: DataFrame, keyCol: String, srcCol: String,
      alpha: Double, targetFrac: Double): DataFrame = {
    require(alpha > 0.0d && alpha <= 1.0d, "alpha must be in (0, 1]")
    require(targetFrac > 0.0d && targetFrac <= 1.0d, "targetFrac must be in (0, 1]")
    val counts = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n_s"))
    val tot = counts.agg(sum(col("n_s")).as("n_total"),
      sum(pow(col("n_s"), lit(alpha))).as("z"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("rate", round(
        least(lit(1.0d), pow(col("n_s"), lit(alpha)) / col("z")
          * lit(targetFrac) * col("n_total") / col("n_s")), 9))
      .select(col(srcCol), col("rate"))
    df.join(broadcast(rates), Seq(srcCol))
      .filter(mixKey(col(keyCol)) <
        floor(col("rate") * lit(4294967296.0d)).cast("long"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis '06): each
    * row draws u uniform in (0,1) and the k largest u^(1/w) form an exact
    * weighted-without-replacement sample. u comes from the same Knuth mix
    * as every other sampler here, so the draw is deterministic, rerun- and
    * engine-stable (the oracle replays the identical arithmetic in SQL).
    *
    * Ordering happens on ln(u)/w — monotone in u^(1/w), cheaper, and with
    * magnitudes where a 9-dp round kills cross-engine libm ulps; `keyCol`
    * tiebreaks any rounding-induced ties. Rows with w <= 0 have selection
    * probability zero and are excluded up front.
    *
    * Scale shape: a pure per-row expression + one TakeOrdered top-k — the
    * corpus never shuffles, no RNG state, no driver pass. */
  def weightedSampleTopK(df: DataFrame, keyCol: String, weight: Column,
                         k: Int): DataFrame = {
    // mixKey in [0, 2^32) → (mix+1)/(2^32+1) ∈ (0,1): never 0 (ln blows
    // up) and never 1 (key would saturate at 0 regardless of weight)
    val u = (mixKey(col(keyCol)) + lit(1L)).cast("double") / lit(4294967297.0d)
    df.filter(weight > lit(0.0d))
      .withColumn("es_key", round(log(u) / weight, 9))
      .orderBy(desc("es_key"), col(keyCol))
      .limit(k)
  }

  /** Span-level decontamination: REMOVE every character span of a corpus
    * document covered by a `k`-char window that appears verbatim anywhere
    * in the benchmark set, and return the cleaned text — the surgical
    * sibling of [[decontaminate]] (which flags whole documents). Use it
    * when a doc is valuable apart from one leaked benchmark passage.
    *
    * Scale shape: the benchmark gram set (distinct k-char windows,
    * character-granular this time) is deduped and BROADCAST; corpus
    * window grams are computed in codegen on the streamed side and never
    * shuffle — the first corpus-wide exchange is the id-width span merge
    * inside [[Dedup.cutCoveredWindows]]. The join is on exact gram
    * STRINGS, so there is no hash-collision removal class at all.
    * `sampleMod` applies the same content-keyed "0 mod p" window sampling
    * as [[Dedup.substringDedup]] to BOTH sides — identical selection for
    * identical text, so detection survives sampling alignment-free, at
    * 1/sampleMod the broadcast and probe cost and coarser span edges.
    *
    * `broadcastBench = false` flips to the incremental-ingest shape:
    * `bench` is a huge EXISTING corpus and `corpus` the small incoming
    * batch — 8-byte window hashes meet in the only large exchange and
    * gram strings re-extract for matched hashes only (both sides), so
    * probing cost scales with the BATCH and the match volume, never with
    * the resident corpus's text.
    *
    * Returns (idCol, clean_text, n_removed). */
  def scrubSpans(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String,
      k: Int = 40, sampleMod: Int = 1,
      broadcastBench: Boolean = true): DataFrame = {
    require(k >= 2, "window length k must be >= 2")
    require(sampleMod >= 1, "sampleMod must be >= 1")
    def sampled(df: DataFrame): DataFrame =
      if (sampleMod > 1)
        df.filter(pmod(xxhash64(col("gram")), lit(sampleMod.toLong)) === 0L)
      else df
    val d = Dedup.spread(corpus.select(col(idCol), col(textCol)))
    def benchGrams: DataFrame = sampled(bench.select(col(benchTextCol).as("t"))
      .select(explode(Dedup.windowStarts(col("t"), k)).as("i"), col("t"))
      .select(col("t").substr(col("i"), lit(k)).as("gram")))
    val corpusWindows = sampled(
      d.select(col(idCol).as("id"), col(textCol).as("t"))
        .select(col("id"), col("t"), explode(Dedup.windowStarts(col("t"), k)).as("i"))
        .select(col("id"), col("i"), col("t").substr(col("i"), lit(k)).as("gram")))
    val covered =
      if (broadcastBench)
        corpusWindows.join(broadcast(benchGrams.distinct()), "gram")
          .select(col("id"), col("i"))
      else {
        // Incremental-ingest shape: the "bench" is a huge EXISTING corpus
        // and `corpus` is the small incoming batch — nothing broadcasts.
        // Same discipline as [[Dedup.substringDedup]]: 8-byte hashes meet
        // in the only big exchange, gram strings re-extract on BOTH sides
        // for the matched hashes only, and exact string equality confirms
        // (a hash collision cannot scrub text).
        val benchHashes = benchGrams
          .select(xxhash64(col("gram")).as("h")).distinct()
        // persisted: referenced by matchedBenchGrams AND the final verify
        // join — without it the big hash join + both gram extractions run
        // twice. Released by Dedup.unpersistAll after the caller's action.
        //
        // The hash join is PINNED to shuffle-hash with the BATCH side as
        // build: the resident side's post-distinct size estimate is
        // unreliable, and at 100× the planner auto-broadcast the
        // multi-GB resident hash set off a small estimate — driver OOM
        // (caught by the r11 sf10 probe). The hint restores the
        // documented shape at any scale: 8-byte hashes meet in the
        // shuffle, per-task build tables are batch-bounded.
        val candidates = Dedup.pin(corpusWindows
          .withColumn("h", xxhash64(col("gram")))
          .hint("shuffle_hash")
          .join(benchHashes, "h"))
        // matchedBenchGrams is DISTINCT grams that matched a batch window
        // — bounded by the batch's own distinct-gram count, small in the
        // incremental regime by definition. Broadcasting it makes the
        // final verify join skew-proof: a boilerplate gram with 10^6
        // occurrences in `candidates` never shuffles on the gram key
        // (the hot-partition hazard the substringDedup skew guard bounds).
        val matchedBenchGrams = benchGrams
          .withColumn("h", xxhash64(col("gram")))
          .join(candidates.select("h").distinct(), "h")
          .select("gram").distinct()
        candidates.join(broadcast(matchedBenchGrams), "gram")
          .select(col("id"), col("i"))
      }
    Dedup.cutCoveredWindows(d, idCol, textCol, covered, k)
  }

  /** Test-set decontamination: flag corpus documents sharing at least one
    * word k-gram with a benchmark/eval corpus (the standard n-gram overlap
    * rule used for pretraining-data hygiene). Returns (id, n_shared) with
    * n_shared = number of distinct contaminated k-grams per document.
    *
    * Scale shape: benchmark suites are small by nature (10^3..10^6 items
    * vs 10^9+ corpus docs), so the benchmark gram set is built once,
    * deduped, and BROADCAST — the corpus never shuffles for the probe; the
    * only corpus-wide exchange is the final per-doc count, keyed on doc id.
    * Grams travel as 64-bit hashes ([[Dedup.shingleHashUdf]]), never as
    * strings. If the benchmark outgrows broadcast (>~100M grams), drop the
    * hint and let AQE pick a shuffled join — same semantics. */
  def decontaminate(
      corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String,
      k: Int = 5): DataFrame = {
    val grams = Dedup.shingleHashUdf(k)
    val corpusGrams = Dedup.spread(corpus)
      .select(col(idCol).as("id"), explode(grams(col(textCol))).as("g"))
    val benchGrams = bench
      .select(explode(grams(col(benchTextCol))).as("g"))
      .distinct()
    corpusGrams.join(broadcast(benchGrams), "g")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared")) // corpus grams are per-doc distinct
  }

  /** Multi-benchmark contamination report — the per-benchmark
    * attribution a pretraining hygiene pass publishes (contamination vs
    * each eval suite separately, not one pooled number): for every
    * benchmark name, how many corpus documents share at least one word
    * k-gram with it, how many distinct benchmark grams were hit, and
    * the total hit volume. Same scale shape as [[decontaminate]]:
    * benchmark gram sets are small by nature and BROADCAST as 64-bit
    * hashes tagged with their bench name; the corpus never shuffles for
    * the probe, and the per-bench aggregate keys on a tiny name space.
    * Returns (bench, docs_hit, grams_hit, n_hits). */
  def contaminationReport(
      corpus: DataFrame, idCol: String, textCol: String,
      benches: DataFrame, benchNameCol: String, benchTextCol: String,
      k: Int = 5): DataFrame = {
    val grams = Dedup.shingleHashUdf(k)
    val corpusGrams = Dedup.spread(corpus)
      .select(col(idCol).as("id"), explode(grams(col(textCol))).as("g"))
    val benchGrams = benches
      .select(col(benchNameCol).as("bench"), explode(grams(col(benchTextCol))).as("g"))
      .distinct()
    corpusGrams.join(broadcast(benchGrams), Seq("g"))
      .groupBy("bench")
      .agg(countDistinct(col("id")).as("docs_hit"),
        countDistinct(col("g")).as("grams_hit"),
        count(lit(1)).as("n_hits"))
  }

  /** Corpus-wide n-gram document frequency: top `topK` word k-grams by
    * number of documents containing them (ties broken by gram). The
    * stats/contamination-analysis twin of the dedup shingle machinery —
    * kept on STRING grams because the grams themselves are the output.
    * Scale: explode → hash-aggregate with map-side combine → global top-k
    * (TakeOrdered — no full sort materialization). */
  def ngramStats(df: DataFrame, textCol: String, k: Int = 3, topK: Int = 20): DataFrame =
    Dedup.spread(df)
      .select(explode(Dedup.shingles(col(textCol), k)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("gram"))
      .limit(topK)

  /** Per-document repetition stats — the Gopher repetition rules' raw
    * material: duplicate word-k-gram fraction (1 − distinct/total) and the
    * single most frequent k-gram's share of all k-grams. High values mark
    * boilerplate/spam for downstream filtering. Documents shorter than k
    * words have no k-grams and are absent from the output. Two map-side
    * combinable aggregates keyed on (doc, gram) then doc — no joins. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String, k: Int = 2): DataFrame = {
    // Dedup.bindArray: the split evaluates once per row, not once per
    // gram — a lambda body re-evaluates expensive subexpressions per
    // ELEMENT (the O(words²) hazard, see bindArray's scaladoc)
    val grams = Dedup.bindArray(split(col(textCol), "\\s+")) { words =>
      when(size(words) >= k,
        transform(sequence(lit(1), size(words) - (k - 1)),
          i => concat_ws(" ", slice(words, i, lit(k)))))
        .otherwise(array().cast("array<string>"))
    }
    Dedup.spread(df)
      .select(col(idCol).as("id"), explode(grams).as("g"))
      .groupBy("id", "g").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("id"), col("n_grams"), col("n_distinct"), col("top_c"),
        round(lit(1.0d) - col("n_distinct").cast("double") / col("n_grams"), 4).as("dup_frac"),
        round(col("top_c").cast("double") / col("n_grams"), 4).as("top_frac"))
  }

  /** Character k-grams at every position (NOT deduped — these are token
    * occurrences for language-model counts, unlike [[Dedup.shingles]]'
    * distinct set semantics). Texts shorter than k yield an empty array. */
  private def charGrams(text: Column, k: Int): Column =
    when(length(text) >= k,
      transform(sequence(lit(1), length(text) - (k - 1)),
        i => text.substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))

  /** Character-trigram language-model typicality score per document — the
    * cheap, deterministic stand-in for CCNet's KenLM-perplexity quality
    * filter: train trigram/bigram counts on the corpus itself, then score
    * each document by its mean smoothed trigram conditional
    * log-likelihood `avg(ln(c(abc)/(c(ab) + smoothing)))`. Low scores
    * mark documents whose character sequences are atypical for the
    * corpus (mojibake, binary spew, wrong-language contamination); rank
    * and cut at a chosen quantile.
    *
    * The Lidstone-style constant on the CONTEXT count is load-bearing:
    * raw self-trained MLE would hand unique gibberish a perfect score
    * (a trigram seen once over a context seen once has ratio 1), whereas
    * with smoothing a rare context scores ln(1/(1+s)) — strongly
    * negative — while common text sits near ln(c3/c2). Default s=32 ≈
    * one alphabet of phantom continuations per context.
    *
    * Scale shape: the "model" (both count tables) is bounded by
    * alphabet³, i.e. tiny — it broadcasts; the corpus is scored in ONE
    * scored pass (explode → two broadcast joins → per-doc aggregate), and
    * the count tables themselves are map-side-combinable aggregates.
    * That is exactly the distributed shape of real LM-filtering: small
    * model everywhere, one pass over the data. MLE note: bigram counts
    * include each text's final bigram (which prefixes no trigram), the
    * standard boundary slop — deterministic and engine-reproducible.
    * Documents shorter than 3 chars have no trigrams and are absent. */
  def charLmScore(df: DataFrame, idCol: String, textCol: String,
      smoothing: Int = 32): DataFrame = {
    val d = Dedup.spread(df)
    // No pinned trigram table: recompute wins, 1.03 s vs 1.37 s (OPTIMIZATION_r20.md).
    val tri = d.select(col(idCol).as("id"),
      explode(charGrams(col(textCol), 3)).as("g"))
    val triCounts = tri.groupBy("g").agg(count(lit(1)).as("c3"))
    val biCounts = d.select(explode(charGrams(col(textCol), 2)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c2"))
    tri.join(broadcast(triCounts), "g")
      .withColumn("b", substring(col("g"), 1, 2))
      .join(broadcast(biCounts), "b")
      .groupBy("id")
      .agg(round(avg(log(col("c3").cast("double") / (col("c2") + lit(smoothing)))), 4)
        .as("lm_score"),
        count(lit(1)).as("n_grams"))
  }

  /** Lowercased word tokens (`\w+` runs) of a text column. */
  private def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("\\w+"), lit(0))

  /** Per-document top TF-IDF terms: score = tf · ln((N+1)/(df+1)), the
    * smoothed formulation; top `perDoc` terms per document by (score,
    * term). Two shuffles: term-frequency aggregate and the per-doc window;
    * document frequency is an aggregate over the tf table (no second scan
    * of the raw text). N rides a broadcast scalar, not a driver constant. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String, perDoc: Int = 3): DataFrame = {
    // tf is consumed twice (df aggregate + the scoring join) — pinned so
    // the corpus text is read ONCE (census: 3 file scans → 1 + cache);
    // the narrow (id, term, tf) rows are the materialize-don't-rescan
    // trade every Dedup intermediate already makes
    val tf = Dedup.pin(Dedup.spread(df)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perDoc)
      .select(col("id"), col("term"), col("tf"), col("df"),
        round(col("score"), 4).as("score"), col("rk"))
  }

  /** BM25 relevance of every document against a bag of query terms
    * (Robertson/Spärck Jones, k1/b defaults). Inputs small (a query),
    * corpus large: the query-term join is a broadcast; avgdl and N ride a
    * broadcast scalar row. Returns the `topK` docs by (score desc, id). */
  def bm25Search(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // r19 opt (guide §1.2): the token arrays feed BOTH the corpus stats
    // pass and the tf build — pinned, the regexp tokenization (the
    // operator's dominant per-row cost) runs once instead of twice; the
    // cached arrays are the same materialized intermediate the stored
    // postings index keeps permanently.
    val toks = Dedup.pin(Dedup.spread(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("ts")))
    val dl = toks.select(col("id"), size(col("ts")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // dl is functionally dependent on id, so carrying it through the tf
    // aggregate key costs nothing and removes a corpus-sized join.
    // tf holds query-term hits ONLY (bounded by |queryTerms| × docs) and
    // feeds both the df-count and the scoring join — pinned. With toks
    // pinned above, the corpus text is read ONCE (at toks pin time);
    // both the stats pass and the tf build read the cached arrays
    // (ScanCensusSpec asserts 0 file scans in bm25_search's final plan).
    val tf = Dedup.pin(toks
      .select(col("id"), size(col("ts")).as("dl"), explode(col("ts")).as("term"))
      .join(broadcast(queryTerms.toDF("term")), "term")
      .groupBy("id", "dl", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5d)) / (col("df") + lit(0.5d)) + lit(1.0d)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (lit(k1) + 1)) /
          (col("tf") + lit(k1) * (lit(1.0d) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("id").agg(round(sum(col("contrib")), 4).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
  }

  /** Materialize a BM25 POSTINGS index — the lexical analogue of the
    * persisted ANN index, and the remedy for [[bm25Search]]'s per-query
    * corpus passes (measured at the 20 M rung: 37-53 s/q of tokenize +
    * explode vs 1.6-1.7 s off stored postings — SCALE.md 16e). Layout —
    * the SAME two-level discipline as the ANN corpus tables, so the
    * whole [[IndexMaintenance]] machinery (idempotent keyed appends,
    * incremental fold, resident compaction, crash recovery, layout
    * stats, snapshot-gated reads) covers the lexical family verbatim
    * with `bucket` as the first-level column:
    *
    *  - `postings/bucket=<b>/ingest_batch=<i>/`: one row per (doc,
    *    term) — `(id, dl, tf)`, term-hash bucketed so a query reads
    *    ONLY its terms' buckets (directory pruning); `dl` inline
    *    because it is functionally dependent on id — the corpus-sized-
    *    join removal [[bm25Search]] makes, stored; the build and
    *    keyless appends land in `ingest_batch=-1` (the resident layer),
    *    keyed appends under their batch id;
    *  - `stats/`: ONE row — `(n_docs, sum_dl, buckets, last_batch)`.
    *    Sums, not means, so growth recombines exactly; `last_batch` is
    *    the exactly-once watermark for keyed appends (foreachBatch
    *    delivers in order, so a replayed id ≤ watermark skips the
    *    already-applied stats delta while its postings overwrite their
    *    own leaves). Written write-aside + rename ([[statsRecover]]
    *    heals the rename window).
    *
    * Document frequency is NOT stored: a term's df is a count over its
    * own pruned postings list, which the query scans anyway. The index
    * is tokenization-complete: [[bm25SearchIndexed]] answers EXACTLY
    * like [[bm25Search]] (same tokens(), formula, round-4 + id
    * tie-break — spec-pinned parity, oracle-gated by the same DuckDB
    * replay).
    *
    * Writes are bucket-aligned with bounded intra-bucket fan-out
    * ([[Similarity.cellSpread]] keyed on `bucket`): zipf head terms skew
    * bucket volumes, so the salt bounds the biggest bucket's write
    * without scattering small buckets across many files; `spreadFiles >
    * 0` pins the per-bucket fan-out so layouts reproduce across
    * differently-sized sessions. */
  def writeBm25Index(df: DataFrame, idCol: String, textCol: String,
      path: String, buckets: Int = 64, spreadFiles: Int = 0,
      metaCols: Seq[String] = Nil): Unit = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    requireBm25MetaCols(metaCols) // validate BEFORE any destructive step
    val spark = df.sparkSession
    // a build at this path IS the documented ledger reset: stale
    // tombstones (and the purge watermark / a half-finished fold) from
    // a previous index here would double-subtract from the fresh stats
    // and hide rebuilt docs
    IndexMaintenance.clearDeletes(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("_purged_through", "_ledger_fold", "._ledger_fold.tmp")
      .foreach(f => fs.delete(new org.apache.hadoop.fs.Path(s"$path/$f"), false))
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/doclens_tmp"), true)
    // the metadata contract every append must match (the ANN
    // families' `_meta_cols` discipline, r19 on the lexical index)
    IndexMaintenance.writeMetaColsFile(fs, path, metaCols)
    // one tokenize pass feeds both the postings write and the stats agg
    val toks = tokenized(df, idCol, textCol, metaCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Bm25Family.spread(buckets, spreadFiles)(postingsOf(toks, buckets, metaCols))
        .withColumn("ingest_batch", lit(-1L))
        .write.mode("overwrite").partitionBy("bucket", "ingest_batch")
        .parquet(s"$path/postings")
      writeDoclens(toks, path, overwrite = true)
      val t = toks.agg(count(lit(1)).as("n"), sum(size(col("ts"))).as("s")).collect()(0)
      // again after the postings: moves the snapshot's schema key past any
      // schema a probe read while they were being rewritten
      IndexMaintenance.writeMetaColsFile(fs, path, metaCols)
      writeStats(spark, path, t.getLong(0), if (t.isNullAt(1)) 0L else t.getLong(1),
        buckets, lastBatch = -1L, lastManual = ManualLaneFloor - 1)
    } finally { toks.unpersist(false); () }
  }

  /** The id-keyed DOCLEN SIDECAR (r18): `doclens/` holds one tiny
    * `(id, dl)` row per document, written by the build and appended by
    * every append. Its single consumer is [[deleteFromBm25Index]], which
    * previously recovered each delete batch's dl by semi-joining the
    * WHOLE postings table (one full postings pass per delete batch —
    * 8.2 s at 21 M docs vs the IVF twin's 0.4 s, SCALE.md 17d); dl is a
    * per-doc constant the index knew at write time, so storing it makes
    * deletes sidecar-scan-priced (two narrow columns, one row per doc —
    * ~100× fewer rows than postings at typical doc lengths). Bonus: the
    * sidecar records ZERO-TOKEN docs too (dl = 0 — they have no
    * postings rows), so deleting one now adjusts n_docs exactly instead
    * of the r17 overcount epsilon. Duplicate rows from a replayed/
    * retried append are harmless — every consumer reads it
    * `.distinct()`, and a doc's (id, dl) pair is immutable. */
  private def writeDoclens(toks: DataFrame, path: String, overwrite: Boolean): Unit = {
    val rows = toks.select(col("id"), coalesce(size(col("ts")), lit(0)).as("dl"))
    // the build keeps its input parallelism (a corpus-sized pass writes
    // once); appends fold their batch to one file so a long stream
    // accrues one tiny file per trigger, not partitions × triggers
    (if (overwrite) rows else rows.coalesce(1))
      .write.mode(if (overwrite) "overwrite" else "append")
      .parquet(s"$path/doclens")
  }

  /** Manual (non-streamed) appends get auto-assigned batch ids in a lane
    * DISJOINT from foreachBatch ids (which count up from 0), so a
    * stream later attached to the same index can never dynamic-overwrite
    * a manual append's leaves. ~31 years of 1-second triggers before a
    * stream id could reach the floor. */
  private[operators] val ManualLaneFloor = IndexMaintenance.ManualLaneFloor

  private def tokenized(df: DataFrame, idCol: String, textCol: String,
      metaCols: Seq[String] = Nil) =
    df.select(col(idCol).as("id") +: tokens(col(textCol)).as("ts") +:
      metaCols.map(col): _*)

  // metaCols ride the (id, term) rows verbatim — functionally dependent
  // on id, so the extra groupBy keys change nothing about tf
  private def postingsOf(toks: DataFrame, buckets: Int,
      metaCols: Seq[String] = Nil) = toks
    .select(col("id") +: size(col("ts")).as("dl") +:
      explode(col("ts")).as("term") +: metaCols.map(col): _*)
    .groupBy(("id" +: "dl" +: "term" +: metaCols).map(col): _*)
    .agg(count(lit(1)).as("tf"))
    .withColumn("bucket", pmod(xxhash64(col("term")), lit(buckets)).cast("int"))

  /** Metadata columns on the POSTINGS rows (r19) — what makes
    * [[bm25SearchIndexedMany]]'s `filter` a predicate over the pruned
    * scan instead of a materialized id-set join: they must not collide
    * with the layout's own columns (`ts` is the tokenize intermediate). */
  private def requireBm25MetaCols(metaCols: Seq[String]): Unit = {
    val reserved = Set("id", "dl", "term", "tf", "bucket", "ingest_batch", "ts")
    val bad = metaCols.filter(reserved)
    require(bad.isEmpty,
      s"metaCols collide with the lexical index layout's columns: ${bad.mkString(", ")}")
  }

  /** Atomic-enough single-row stats write: write aside, delete, rename
    * — the delete→rename window is the only crash exposure and
    * [[statsRecover]] rolls it forward (the aside copy is complete
    * before anything is deleted). Two watermarks, one per append lane:
    * `last_batch` for stream (foreachBatch) ids, `last_manual` for the
    * auto-assigned manual lane — each lane's replay/retry skips only
    * its OWN already-applied deltas. The row is written through to the
    * index snapshot (single-writer contract), so the next probe or
    * append reads it back at no Spark job. */
  private def writeStats(spark: org.apache.spark.sql.SparkSession,
      path: String, nDocs: Long, sumDl: Long, buckets: Int,
      lastBatch: Long, lastManual: Long): Unit = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/stats_tmp")
    val live = new org.apache.hadoop.fs.Path(s"$path/stats")
    Seq((nDocs, sumDl, buckets, lastBatch, lastManual))
      .toDF("n_docs", "sum_dl", "buckets", "last_batch", "last_manual")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(live, true)
    require(fs.rename(tmp, live), s"could not publish $live")
    Bm25Family.rememberRouting(spark, path, (nDocs, sumDl, buckets, lastBatch, lastManual))
  }

  /** The stats row `(n_docs, sum_dl, buckets, last_batch, last_manual)`,
    * from the index snapshot: revalidated against the `stats` files on
    * every call, so it is never stale, and read at no Spark job while
    * they are unchanged (and after this JVM's own [[writeStats]]). */
  private def readStats(spark: org.apache.spark.sql.SparkSession,
      path: String): Bm25Stats = Bm25Family.routing(spark, path)

  private[graft] type Bm25Stats = (Long, Long, Int, Long, Long)

  private val StatsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("n_docs", LongType), StructField("sum_dl", LongType),
      StructField("buckets", IntegerType), StructField("last_batch", LongType),
      StructField("last_manual", LongType)))
  }

  /** Heal a crashed [[writeStats]] rename window
    * ([[IndexMaintenance.recoverAside]]). */
  private def statsRecover(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] = {
    val live = new org.apache.hadoop.fs.Path(s"$path/stats")
    IndexMaintenance.recoverAside(
      live.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$path/stats_tmp"), live)
  }

  /** The lexical index as a lifecycle family: one `postings` table under
    * `bucket=` first-level dirs, the bucket count read from the stats
    * row. The overrides add what is BM25's own around the shared table
    * ops — the stats row with its `last_manual` stats-watermark lane
    * (in place of the ANN watermark file), the doclen sidecar, and the
    * ledger fold inside the purge. */
  private[graft] object Bm25Family extends IndexMaintenance.Family[Bm25Stats](
      Seq("postings"), "bucket", "id", "Rebuild the index with writeBm25Index.") {
    def cells(spark: org.apache.spark.sql.SparkSession, path: String): Int =
      readStats(spark, path)._3
    protected def routingDirs = Seq("stats" -> StatsSchema)
    protected def decodeRouting(rows: Seq[Array[org.apache.spark.sql.Row]]) = {
      val r = rows.head(0)
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))
    }

    /** Heals an interrupted ledger fold (before any stats write, r18
      * review) and an unhealed manual-lane stats delta first — folding
      * an orphan lane would otherwise erase the lag's detectability. */
    override def fold(spark: org.apache.spark.sql.SparkSession, path: String,
        committedBatchId: Long, spreadFiles: Int): Unit = {
      ledgerFoldRecover(spark, path)
      manualLaneRecover(spark, path)
      super.fold(spark, path, committedBatchId, spreadFiles)
    }

    override def compactResident(spark: org.apache.spark.sql.SparkSession,
        path: String, maxFilesPerCell: Int, spreadFiles: Int): Seq[Int] =
      compactResident(spark, path, maxFilesPerCell, spreadFiles, maxDoclenFiles = 64)

    /** The postings compaction plus the doclen sidecar's accrual bound. */
    def compactResident(spark: org.apache.spark.sql.SparkSession, path: String,
        maxFilesPerCell: Int, spreadFiles: Int, maxDoclenFiles: Int): Seq[Int] = {
      val n = super.compactResident(spark, path, maxFilesPerCell, spreadFiles)
      consolidateDoclens(spark, path, maxDoclenFiles)
      n
    }

    /** The ledger's ids net of the r17 `_purged_through` rerun counter. */
    override def pendingTombstones(spark: org.apache.spark.sql.SparkSession,
        path: String): Long = {
      val counter = new org.apache.hadoop.fs.Path(s"$path/_purged_through")
      val fs = counter.getFileSystem(spark.sparkContext.hadoopConfiguration)
      math.max(0L, super.pendingTombstones(spark, path) -
        IndexMaintenance.readCounterFile(fs, counter))
    }

    override def advice(spark: org.apache.spark.sql.SparkSession, path: String,
        driftTripped: Boolean, maxFilesPerCell: Int, foldLeavesPerCell: Int,
        spreadFiles: Int, maxTombstones: Long): MaintenanceAdvice =
      advice(spark, path, driftTripped, maxFilesPerCell, foldLeavesPerCell,
        spreadFiles, maxTombstones, maxDoclenFiles = 64)

    /** The shared advice plus DOCLEN-SIDECAR accrual (r19): every append
      * lands one small file and no fold covers the sidecar, so a
      * long-lived ingest grows it one file per trigger forever unless
      * something consolidates — a cost the delete path pays (it lists
      * and reads every file). Tracked at the compact-resident tier (the
      * action whose implementation consolidates the sidecar), so an
      * operator following advice — or the streaming loop's
      * self-maintenance — bounds it without knowing the knob. One
      * file-count listing; lower-priority signals never mask fold/purge
      * verdicts. */
    def advice(spark: org.apache.spark.sql.SparkSession, path: String,
        driftTripped: Boolean, maxFilesPerCell: Int, foldLeavesPerCell: Int,
        spreadFiles: Int, maxTombstones: Long, maxDoclenFiles: Int): MaintenanceAdvice = {
      val base = super.advice(spark, path, driftTripped, maxFilesPerCell,
        foldLeavesPerCell, spreadFiles, maxTombstones)
      val doclenFiles = bm25DoclenFileCount(spark, path)
      if (base.action == "none" && doclenFiles > maxDoclenFiles)
        MaintenanceAdvice("compact-resident",
          s"the doclen sidecar holds $doclenFiles files (> $maxDoclenFiles) — " +
            "append accrual; compactBm25Resident consolidates it in one " +
            "narrow pass", base.layout)
      else base
    }

    override def recover(spark: org.apache.spark.sql.SparkSession,
        path: String): Option[String] =
      IndexMaintenance.report(recoverTables(spark, path) ++
        statsRecover(spark, path).toSeq ++
        doclensRecover(spark, path).toSeq ++
        ledgerFoldRecover(spark, path).toSeq ++
        manualLaneRecover(spark, path).toSeq)

    /** See [[purgeBm25Deletes]]: the shared table rewrite, then the
      * doclen rewrite and the ledger fold into the stats row. */
    override def purge(spark: org.apache.spark.sql.SparkSession, path: String,
        spreadFiles: Int): Seq[Int] = {
      // finish an interrupted previous fold first: its marker pins the
      // exact snapshot it was folding, which must not mix with this run's
      ledgerFoldRecover(spark, path)
      doclensRecover(spark, path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deletesP = new org.apache.hadoop.fs.Path(IndexMaintenance.deletesDir(path))
      // snapshot the ledger FILES: the fold's commit deletes exactly these
      // (anything appended later — a contract breach under the
      // single-writer rule — survives rather than vanishing unfolded)
      val ledgerFiles =
        if (!fs.exists(deletesP)) Seq.empty[String]
        else fs.listStatus(deletesP)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.getName).toSeq
      if (ledgerFiles.isEmpty) return Seq(0)
      // read distributed, never collected: the purge is the remedy the
      // probes' driver-rows cap points at, so it must run past the cap
      val ledger = spark.read.parquet(
        ledgerFiles.map(f => s"${deletesP.toString}/$f"): _*).distinct()
      // 1. postings rewrite (marker-staged; a read-only semi-join probe
      //    skips it on a rerun after a crash later in the sequence)
      val n = purgeTables(spark, path, ledger, spreadFiles)
      // 2. drop the purged ids from the doclen sidecar — without this, a
      //    post-purge re-delete of the same id would find its dl again
      //    and subtract a doc the stats no longer count
      swapDoclens(spark, path)(_.join(ledger.select("id"), Seq("id"), "left_anti"))
      // 3. the ledger fold: marker -> stats -> file deletes -> marker off.
      //    ONE row per id (max dl), as the probes' Ledger.deletedDocs
      //    counts it, as one distributed aggregate row
      val agg = ledger.groupBy("id").agg(max(col("dl")).as("dl"))
        .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)
      val (oldN, oldSum, buckets, lastBatch, lastManual) = readStats(spark, path)
      val (expN, expSum) = (oldN - agg.getLong(0), oldSum - agg.getLong(1))
      IndexMaintenance.writeMarker(fs,
        new org.apache.hadoop.fs.Path(s"$path/._ledger_fold.tmp"),
        new org.apache.hadoop.fs.Path(s"$path/_ledger_fold"),
        s"$expN $expSum" +: ledgerFiles)
      writeStats(spark, path, expN, expSum, buckets, lastBatch, lastManual)
      ledgerFiles.foreach(f =>
        fs.delete(new org.apache.hadoop.fs.Path(deletesP, f), false))
      // the r17 rerun watermark is subsumed by the fold (the ledger is
      // gone); drop it so a later rebuild-reset has one less stale file
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_purged_through"), false)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_ledger_fold"), false)
      n
    }
  }

  /** Grow a stored [[writeBm25Index]] with NEW documents — the lexical
    * twin of the ANN indexes' model-reusing append, and IDEMPOTENT ON
    * RETRY (stronger than the ANN keyless contract): the batch is
    * auto-assigned the next id in the manual lane
    * ([[ManualLaneFloor]]+, disjoint from foreachBatch ids by
    * construction) and goes through the same dynamic-overwrite +
    * watermark machinery as the streamed path — a FAILED append retried
    * with the same batch gets the same lane id (the watermark never
    * advanced), overwrites its own leaves, and applies the stats delta
    * exactly once; calling again after SUCCESS appends a new batch, as
    * any append does. A crash BETWEEN the postings write and
    * the stats write is detectable (the manual lane's max id exceeds
    * the `last_manual` watermark) and [[recoverBm25Index]] auto-heals
    * it by computing the lagging delta from the orphan lane's own rows.
    *
    * The crash-then-DIFFERENT-batch sequence is guarded (r17): when an
    * orphan lane exists, the append fingerprints the incoming batch's
    * doc-id set against the orphan's — a MATCH is the documented retry
    * and reuses the lane (exactly-once as above); a MISMATCH means the
    * operator moved on without recovering, so the orphan is adopted
    * first ([[manualLaneRecover]] — its postings are complete, only its
    * stats delta lagged) and the new batch gets a FRESH lane. Without
    * this, the new append would silently reuse the orphan's lane id and
    * dynamic overwrite would destroy the orphan's postings in exactly
    * the buckets the new batch touches. The id-set fingerprint is
    * decisive because batch doc ids must be NEW to the index (appending
    * an existing doc id creates a second posting list for it, like any
    * append-only index) — two distinct batches cannot share an id set.
    * Cost on the healthy path: one FS walk; the fingerprint passes run
    * only when an orphan exists. */
  def appendBm25Index(batch: DataFrame, idCol: String, textCol: String,
      path: String, spreadFiles: Int = 0, metaCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    Bm25Family.requireLayout(spark, path)
    val lastManual = readStats(spark, path)._5
    val orphans = Bm25Family.orphanLanes(spark, path, lastManual)
    val lane =
      if (orphans.forall(_.isEmpty)) math.max(lastManual + 1, ManualLaneFloor)
      else {
        // zero-token docs have no postings rows on either side, so both
        // fingerprints see the same id set. EVERY orphan is fingerprinted
        // (r18 — two crashed appends then a retry of either must find its
        // OWN lane; the r17 size==1 gate wrote a retried batch twice
        // whenever more than one orphan existed): a match IS the
        // documented retry and reuses that lane.
        Bm25Family.retryLane(spark, path, orphans,
          tokenized(batch, idCol, textCol).filter(size(col("ts")) > 0).select("id")) match {
          case Some(l) => // the documented retry
            // orphans BELOW the reused lane would be implicitly committed
            // by this append's final stats write (last_manual -> l) with
            // their stats deltas never applied — adopt them explicitly
            // first (postings complete; delta + watermark land in ONE
            // stats write, so no crash can double-apply); orphans above l
            // stay orphaned for the next call to resolve
            manualLaneRecover(spark, path, below = l)
            l
          case None =>
            manualLaneRecover(spark, path) // adopt all: postings complete, stats lagged
            math.max(readStats(spark, path)._5 + 1, ManualLaneFloor)
        }
      }
    appendBm25Parts(batch, idCol, textCol, path, batchId = lane, manual = true,
      spreadFiles = spreadFiles, metaCols = metaCols)
  }

  /** Replay-idempotent keyed append — [[Similarity.appendIvfIndexIdempotent]]'s
    * lexical twin for exactly-once streaming ingest: the batch's
    * postings land under `bucket=<b>/ingest_batch=<batchId>` leaves via
    * dynamic partition overwrite (a re-delivered foreachBatch id
    * overwrites its own leaves), and the stats delta applies only when
    * `batchId` exceeds the stored `last_batch` watermark — foreachBatch
    * delivers batches in order and never re-delivers a committed one,
    * so postings AND stats both converge to exactly-once no matter
    * where a crash fell (postings first, stats second: a crash between
    * them leaves stats lagging one batch, and the replay that follows
    * applies exactly the missing delta). Ids must stay below
    * [[ManualLaneFloor]] — that lane belongs to [[appendBm25Index]]. */
  def appendBm25IndexIdempotent(batch: DataFrame, idCol: String,
      textCol: String, path: String, batchId: Long, spreadFiles: Int = 0,
      metaCols: Seq[String] = Nil): Unit = {
    Bm25Family.requireKeyedLane(batch.sparkSession, path, batchId)
    appendBm25Parts(batch, idCol, textCol, path, batchId, manual = false,
      spreadFiles, metaCols)
  }

  private def appendBm25Parts(batch: DataFrame, idCol: String,
      textCol: String, path: String, batchId: Long, manual: Boolean,
      spreadFiles: Int = 0, metaCols: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    requireBm25MetaCols(metaCols)
    // the contract file refuses a mismatched append up front — its rows'
    // missing metadata would read as NULL under the union schema and a
    // filtered probe would silently drop them (the ANN discipline, r19)
    IndexMaintenance.requireSameMetaCols(spark, path, metaCols)
    // every stats-mutating write finishes an interrupted ledger fold
    // FIRST (two fs.exists when healthy): a stats delta written inside
    // a crashed fold's window would be erased when recovery later pins
    // stats to the marker's snapshot (r18 review). With all write paths
    // healing up front, the window can never contain another write.
    ledgerFoldRecover(spark, path)
    val (oldN, oldSum, buckets, lastBatch, lastManual) = readStats(spark, path)
    // the idempotent (stream) lane lets a COMMITTED replay through: a
    // re-delivered batch whose write landed (stats watermark passed it,
    // or its leaves are on disk) self-overwrites harmlessly — the ledger
    // already hides its rows; without the escape, deleting an id from an
    // uncheckpointed batch would throw on every restart (r18). The
    // manual lane keeps the loud refusal (operator-driven retries).
    IndexMaintenance.requireNotTombstoned(spark, path,
      batch.select(col(idCol).as("id")),
      isCommittedReplay = () => !manual && (batchId <= lastBatch ||
        Bm25Family.laneLanded(spark, path, batchId)))
    // one tokenize pass feeds the empty-check, the postings write, and
    // the stats delta
    val toks = tokenized(batch, idCol, textCol, metaCols)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val t = toks.agg(count(lit(1)).as("n"), sum(size(col("ts"))).as("s")).collect()(0)
      if (t.getLong(0) == 0) return // empty batch: nothing to append
      Bm25Family.spread(buckets, spreadFiles)(postingsOf(toks, buckets, metaCols))
        .withColumn("ingest_batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "ingest_batch")
        .parquet(s"$path/postings")
      // sidecar after postings, before stats: a committed stats
      // watermark implies the lane's doclens landed; a crash in between
      // re-appends on replay/retry, which dedups at read
      writeDoclens(toks, path, overwrite = false)
      // each lane's replay/retry skips only its own applied deltas
      val apply = if (manual) batchId > lastManual else batchId > lastBatch
      if (apply)
        // all-null texts tokenize to null → a null sum, like writeBm25Index
        writeStats(spark, path, oldN + t.getLong(0),
          oldSum + (if (t.isNullAt(1)) 0L else t.getLong(1)), buckets,
          if (manual) lastBatch else math.max(lastBatch, batchId),
          if (manual) math.max(lastManual, batchId) else lastManual)
    } finally { toks.unpersist(false); () }
  }

  /** Incremental compaction of a streamed-into lexical index: fold
    * every checkpoint-committed postings leaf into the resident `-1`
    * layer ([[IndexMaintenance.Family.fold]]). Stats need no folding —
    * appends already folded their deltas into the single row at append
    * time; an UNHEALED manual-lane delta (a crash between a manual
    * append's two writes) is healed here first. Folding manual lanes
    * (ids ≥ [[ManualLaneFloor]]) requires passing a watermark at or
    * above them — only do that when no stream is attached or every
    * stream batch is committed. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, committedBatchId: Long, spreadFiles: Int = 0): Unit =
    Bm25Family.fold(spark, path, committedBatchId, spreadFiles)

  /** Detect and heal a manual append that crashed between its postings
    * write and its stats write: any manual-lane leaf id above the
    * `last_manual` watermark is an applied-postings/missing-stats
    * orphan, and its delta is recomputable from its OWN rows (distinct
    * (id, dl) pairs — dl is functionally dependent on id). One FS walk
    * + one lane-sized scan. Docs with ZERO tokens are invisible here
    * (they have no postings rows — they also can never match a query;
    * only n_docs undercounts by their number, a documented epsilon).
    *
    * `below` (r18) restricts the heal to orphan lanes STRICTLY under it —
    * the retry-reuse path's partial adoption: when a retried batch is
    * about to reuse lane `l`, lanes under `l` must be adopted (the final
    * stats write advances `last_manual` past them) while `l` itself must
    * stay un-adopted (its delta applies through the append). The delta
    * and the watermark land in one atomic stats write, so a crash right
    * after leaves lanes >= `below` detectable and un-double-countable. */
  private def manualLaneRecover(spark: org.apache.spark.sql.SparkSession,
      path: String, below: Long = Long.MaxValue): Option[String] = {
    // this writes stats, so an interrupted ledger fold must finish first
    // (its recovery pins stats to a snapshot that would erase the delta
    // applied here — r18 review); idempotent and two fs.exists when clean
    ledgerFoldRecover(spark, path)
    val (oldN, oldSum, buckets, lastBatch, lastManual) = readStats(spark, path)
    val orphanLanes = Bm25Family.orphanLanes(spark, path, lastManual).flatten
      .filter(_ < below)
    if (orphanLanes.isEmpty) return None
    val rows = spark.read.option("basePath", s"$path/postings")
      .parquet(s"$path/postings": String)
      .filter(col("ingest_batch").isin(orphanLanes: _*))
    val d = rows.select("id", "dl").distinct()
      .agg(count(lit(1)).as("dn"), sum(col("dl")).as("ds")).collect()(0)
    writeStats(spark, path, oldN + d.getLong(0),
      oldSum + (if (d.isNullAt(1)) 0L else d.getLong(1)), buckets,
      lastBatch, orphanLanes.max)
    Some(s"applied the lagging stats delta of ${orphanLanes.size} " +
      s"interrupted manual append(s) at $path (lanes ${orphanLanes.sorted.mkString(",")})")
  }

  /** Minor compaction of the lexical resident layer
    * ([[IndexMaintenance.Family.compactResident]]: buckets whose `-1`
    * file count exceeds the bound, 0 = 2× the derived spread bound),
    * plus the doclen sidecar's accrual bound. Returns buckets
    * compacted. */
  def compactBm25Resident(spark: org.apache.spark.sql.SparkSession,
      path: String, maxFilesPerBucket: Int = 0, spreadFiles: Int = 0,
      maxDoclenFiles: Int = 64): Int =
    Bm25Family.compactResident(spark, path, maxFilesPerBucket, spreadFiles,
      maxDoclenFiles).head

  /** Bound the doclen sidecar's file accrual (r18): every append adds
    * one small file and no fold covers the sidecar, so a long-lived
    * stream would otherwise accrue one file per trigger forever (the
    * delete path lists and reads them all). Rides the minor compaction
    * — one file-count listing when healthy; over `maxFiles`, ONE narrow
    * corpus pass (a row per doc, ~20-50× smaller than the postings)
    * rewrites the sidecar through the same staged swap the purge uses
    * ([[doclensRecover]] heals a crash), with `.distinct()` collapsing
    * any replay-duplicate rows while it's at it. Returns the file count
    * consolidated (0 = under bound). Single-writer contract. */
  private def consolidateDoclens(spark: org.apache.spark.sql.SparkSession,
      path: String, maxFiles: Int): Int = {
    require(maxFiles >= 1, s"maxDoclenFiles must be >= 1: $maxFiles")
    val live = new org.apache.hadoop.fs.Path(s"$path/doclens")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!IndexMaintenance.hasCommittedData(fs, live)) return 0
    val files = fs.listStatus(live)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (files <= maxFiles) return 0
    // output coalesced UNDER the bound, or the next check would rewrite
    // forever (the residentBound lesson, applied to the sidecar).
    // One row per id (max dl), not distinct: a retried append whose
    // text changed leaves differing dl rows for one doc (r19 — the
    // pick the delete path makes, applied at consolidation too)
    swapDoclens(spark, path)(
      _.groupBy("id").agg(max(col("dl")).as("dl")).coalesce(maxFiles))
    files
  }

  /** Deterministic crash recovery for the lexical index: rolls an
    * interrupted fold/compaction back or forward (shared marker
    * protocol), heals a crashed stats publish, and applies the lagging
    * stats delta of a manual append that crashed between its two writes
    * (detected via the manual-lane watermark, recomputed from the
    * orphan lane's own rows). Idempotent. */
  def recoverBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] =
    Bm25Family.recover(spark, path)

  /** Layout health of the postings table ([[IndexLayoutStats]] with
    * buckets as cells) — feed it the same way as the ANN layouts. */
  def bm25IndexLayout(spark: org.apache.spark.sql.SparkSession,
      path: String): IndexLayoutStats =
    Bm25Family.layouts(spark, path).head

  /** One recommendation for the lexical index (drift does not apply —
    * BM25 has no trained model to go stale, so the verdict is layout,
    * tombstones and doclen-sidecar accrual; see
    * [[IndexMaintenance.Family.advice]]). */
  def bm25MaintenanceAdvice(spark: org.apache.spark.sql.SparkSession,
      path: String, maxFilesPerBucket: Int = 0,
      foldLeavesPerBucket: Int = 2, spreadFiles: Int = 0,
      maxTombstones: Long = 100000L,
      maxDoclenFiles: Int = 64): MaintenanceAdvice =
    Bm25Family.advice(spark, path, driftTripped = false, maxFilesPerBucket,
      foldLeavesPerBucket, spreadFiles, maxTombstones, maxDoclenFiles)

  /** Data files in the doclen sidecar — the accrual metric
    * [[bm25MaintenanceAdvice]] tracks (one FS listing; 0 = no sidecar,
    * a pre-r18 index). */
  def bm25DoclenFileCount(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val live = new org.apache.hadoop.fs.Path(s"$path/doclens")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!IndexMaintenance.hasCommittedData(fs, live)) 0
    else fs.listStatus(live)
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** DELETE documents from a stored BM25 index (r17) — tombstone-first,
    * the [[Similarity.deleteFromIvfIndex]] shape with one lexical
    * extra: BM25's scores depend on corpus stats (n_docs, avgdl), so
    * the ledger stores `(id, dl)` and every probe subtracts the
    * ledger's aggregate from the stored stats. Deleted docs then vanish
    * from answers IMMEDIATELY and the remaining scores equal an index
    * built without them (oracle-gated). The delete is one ledger append
    * — no index rewrite, no stats write, crash-safe (re-appending
    * dedups). [[purgeBm25Deletes]] reclaims the bytes (and since r18
    * folds the ledger into the stats row and clears it).
    * Driver-small delete batches by contract (the ledger broadcasts).
    *
    * dl comes from the DOCLEN SIDECAR ([[writeDoclens]], r18) — one
    * narrow id-keyed scan instead of the r17 full-postings semi-join
    * (8.2 s at 21 M docs, SCALE.md 17d), and zero-token docs (dl = 0,
    * no postings rows) now adjust n_docs exactly instead of the
    * documented overcount epsilon. Ids the sidecar doesn't cover — a
    * pre-r18 index, or an orphan lane that crashed between its postings
    * and sidecar writes — fall back to the postings recovery, and only
    * for those ids; ids in neither are not in the index (a no-op, as
    * documented). */
  def deleteFromBm25Index(ids: DataFrame, path: String,
      idCol: String = "id"): Unit = {
    val spark = ids.sparkSession
    // a delete is a WRITE: finish an interrupted ledger fold first, so
    // this tombstone can never land inside a crashed purge's window —
    // where recovery would pin stats to a snapshot that predates it and
    // the probes' mid-fold guard would skip it (r18 review)
    ledgerFoldRecover(spark, path)
    doclensRecover(spark, path)
    import spark.implicits._
    // the caller's plan executes ONCE: delete batches are driver-small
    // by contract (the ledger broadcasts), so the id set is collected
    // up front and drives both the sidecar semi-join and the missing
    // set. The cast to the ledger's long id type is VALIDATED, not
    // trusted (r18 advice): a value the cast nulls out would otherwise
    // silently no-op the delete (or NPE downstream) — refuse loudly so
    // a non-numeric id column is a caller error, never a lost tombstone.
    // try_cast, not cast: under ANSI mode a plain cast throws Spark's
    // generic CAST_INVALID_INPUT mid-collect; try_cast nulls in both
    // modes, so the require below owns the message either way.
    val rawRows = ids.select(col(idCol).as("orig"))
      .withColumn("id", col("orig").try_cast(
        org.apache.spark.sql.types.LongType)).distinct().collect()
    val bad = rawRows.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    require(bad.isEmpty,
      s"deleteFromBm25Index: id column '$idCol' has value(s) not castable to " +
        s"the index's long id type (e.g. '${bad.head.get(0)}') — the cast " +
        "would null them out and the delete would silently miss those docs. " +
        "Pass the index's numeric ids.")
    val batchIds = rawRows.filter(!_.isNullAt(1)).map(_.getLong(1)).distinct
    if (batchIds.isEmpty) return
    // ids ALREADY tombstoned append nothing: the ledger stays id-unique
    // by construction, so its (count, sum dl) aggregate counts each
    // deleted doc exactly once — a re-delete (or a crash-retry whose
    // first attempt landed) can never double-subtract from the stats
    // fold (r18 advice). The distributed ledger is filtered to this
    // batch before the collect, so the driver holds at most the batch and
    // a ledger past the probes' driver-rows cap does not wedge deletes.
    val alreadyDeleted: Set[Long] =
      IndexMaintenance.ledger(spark, path) match {
        case Some(d) => d.select(col("id").cast("long").as("id"))
          .filter(col("id").isin(batchIds.toSeq: _*)).collect()
          .map(_.getLong(0)).toSet
        case None => Set.empty
      }
    val freshIds = batchIds.filterNot(alreadyDeleted)
    if (freshIds.isEmpty) return
    val batch = freshIds.toSeq.toDF("id")
    val dlPath = new org.apache.hadoop.fs.Path(s"$path/doclens")
    val fs = dlPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // dl stays INT end to end — the type size() produces and the type
    // every r17 ledger already holds (a mixed int/long ledger dir would
    // break the plain parquet read). One row per id (max dl) rather
    // than distinct over (id, dl): a manual-lane retry whose text
    // changed leaves two differing dl rows in the sidecar for one doc,
    // and ledgering both would double-subtract it from n_docs (r18
    // advice).
    val fromSidecar: Array[(Long, Int)] =
      if (!IndexMaintenance.hasCommittedData(fs, dlPath)) Array.empty
      else spark.read.parquet(dlPath.toString)
        .join(broadcast(batch), Seq("id"), "left_semi")
        .groupBy("id").agg(max(col("dl")).as("dl"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)))
    val covered = fromSidecar.map(_._1).toSet
    val missing = freshIds.filterNot(covered)
    val fromPostings: Array[(Long, Int)] =
      if (missing.isEmpty) Array.empty
      else {
        val postingsPath = new org.apache.hadoop.fs.Path(s"$path/postings")
        val pfs = postingsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val rows = IndexMaintenance.consistentListing(pfs, postingsPath) {
          spark.read.parquet(s"$path/postings")
        }
        rows.join(broadcast(missing.toSeq.toDF("id")), Seq("id"), "left_semi")
          .groupBy("id").agg(max(col("dl")).as("dl"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1)))
      }
    val all = fromSidecar ++ fromPostings
    if (all.nonEmpty) {
      val rows = all.toSeq.toDF("id", "dl")
      rows.coalesce(1).write.mode("append").parquet(IndexMaintenance.deletesDir(path))
      IndexMaintenance.rememberLedgerSchema(spark, path, rows.schema)
    }
  }

  /** Physically remove tombstoned postings AND retire the ledger (r17;
    * fold semantics r18): rewrite every resident bucket with the ledger
    * anti-joined out (marker-staged; [[recoverBm25Index]] heals a
    * crash), remove the purged ids from the doclen sidecar, then FOLD
    * the ledger's (count, sum dl) into the stored stats row and delete
    * the folded ledger files. Requires every TOMBSTONED row to be
    * folded — the precise gate (r18,
    * [[IndexMaintenance.tombstonesUnfolded]]), so a live stream's
    * current batch no longer blocks a purge of older data.
    *
    * r17 kept the ledger forever ("it carries the stats adjustment"),
    * so every probe re-collected and broadcast it for the index's whole
    * life and nothing ever reset it short of a rebuild — the judged
    * unbounded-growth seam. The fold moves the adjustment INTO the
    * stats row, so after a purge the index is byte-for-byte equivalent
    * to one built without the docs: probes pay no anti-join, re-using
    * a purged id is a legal fresh append (deletion is terminal until a
    * PURGE or rebuild now, not rebuild-only), and the ledger size is
    * bounded by the purge cadence.
    *
    * Crash safety: the stats fold is staged through the `_ledger_fold`
    * marker, which pins the EXPECTED post-fold (n_docs, sum_dl) and the
    * exact ledger files being folded — on any crash,
    * [[recoverBm25Index]] compares the stats row against the pinned
    * values to decide roll-forward (apply the stats write, then delete
    * exactly the listed files), and [[bm25Effective]] consults the same
    * marker so a probe landing INSIDE the window (stats folded, files
    * not yet deleted) never subtracts twice. delN >= 1 whenever a
    * ledger exists, so pre- and post-fold stats can never collide.
    * The ledger is read, joined and aggregated distributed — never
    * collected — so the purge runs past the probes' driver-rows cap.
    * Returns buckets rewritten. Single-writer contract (deletes count
    * as writes here). */
  def purgeBm25Deletes(spark: org.apache.spark.sql.SparkSession,
      path: String, spreadFiles: Int = 0): Int =
    Bm25Family.purge(spark, path, spreadFiles).head

  /** Roll an interrupted [[purgeBm25Deletes]] ledger fold FORWARD: the
    * `_ledger_fold` marker pins the expected post-fold stats and the
    * exact files being folded; stats already at the pinned values mean
    * the subtraction landed (delete the files), anything else means it
    * didn't (apply it, then delete). Idempotent. */
  private def ledgerFoldRecover(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] = {
    val marker = new org.apache.hadoop.fs.Path(s"$path/_ledger_fold")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scratch = new org.apache.hadoop.fs.Path(s"$path/._ledger_fold.tmp")
    if (fs.exists(scratch)) fs.delete(scratch, false) // pre-publish crash
    if (!fs.exists(marker)) return None
    val lines = IndexMaintenance.readMarker(fs, marker)
    val head = lines.head.split(" ")
    val (expN, expSum) = (head(0).toLong, head(1).toLong)
    statsRecover(spark, path) // a stats publish can itself have crashed
    val (n, sum, buckets, lastBatch, lastManual) = readStats(spark, path)
    if (n != expN || sum != expSum)
      writeStats(spark, path, expN, expSum, buckets, lastBatch, lastManual)
    val deletesP = new org.apache.hadoop.fs.Path(IndexMaintenance.deletesDir(path))
    lines.tail.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(deletesP, f), false))
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_purged_through"), false)
    fs.delete(marker, false)
    Some(s"completed an interrupted ledger fold at $path " +
      s"(stats pinned to n_docs=$expN, ${lines.tail.size} ledger file(s) retired)")
  }

  /** The ONE doclen-sidecar staged swap (aside + delete + rename —
    * [[doclensRecover]] heals the window) shared by the purge's
    * anti-join rewrite (idempotent while the ledger persists — removing
    * already-removed ids removes nothing) and the accrual consolidation, so the
    * crash-sensitive protocol lives in a single place. No-op on a
    * missing/empty sidecar. */
  private def swapDoclens(spark: org.apache.spark.sql.SparkSession,
      path: String)(transform: DataFrame => DataFrame): Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$path/doclens")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!IndexMaintenance.hasCommittedData(fs, live)) return
    val tmp = new org.apache.hadoop.fs.Path(s"$path/doclens_tmp")
    transform(spark.read.parquet(live.toString))
      .write.mode("overwrite").parquet(tmp.toString)
    fs.delete(live, true)
    require(fs.rename(tmp, live), s"could not publish $live")
  }

  /** Upgrade a pre-r18 index in place: materialize the doclen sidecar
    * from the postings in ONE pass — exactly the pass every
    * [[deleteFromBm25Index]] batch would otherwise pay forever. Docs
    * with zero tokens have no postings rows, so their dl = 0 entries
    * cannot be recovered here (their deletes keep the documented n_docs
    * epsilon until a rebuild); every index written or appended by r18
    * code records them natively. No-op when a sidecar already exists
    * (returns false). Single-writer contract. */
  def backfillBm25Doclens(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val live = new org.apache.hadoop.fs.Path(s"$path/doclens")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (IndexMaintenance.hasCommittedData(fs, live)) return false
    val postingsPath = new org.apache.hadoop.fs.Path(s"$path/postings")
    val pfs = postingsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexMaintenance.consistentListing(pfs, postingsPath) {
      spark.read.parquet(s"$path/postings")
    }.select("id", "dl").distinct()
      .write.mode("overwrite").parquet(live.toString)
    true
  }

  /** Heal a crashed [[swapDoclens]] window
    * ([[IndexMaintenance.recoverAside]]). */
  private def doclensRecover(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] = {
    val live = new org.apache.hadoop.fs.Path(s"$path/doclens")
    IndexMaintenance.recoverAside(
      live.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$path/doclens_tmp"), live)
  }

  /** Effective corpus stats + tombstone filter for the stored-postings
    * probes: the stored SUMS minus the delete ledger's aggregate, so
    * idf/avgdl match an index built without the deleted docs, and the
    * filter ([[IndexMaintenance.dropTombstoned]]) drops that same
    * ledger's docs. */
  private def bm25Effective(spark: org.apache.spark.sql.SparkSession,
      path: String): (Long, Double, Int, DataFrame => DataFrame) = {
    // OPTIMISTIC SNAPSHOT vs a concurrent purge (r18): the purge
    // mutates three things a probe reads — the stats row, the ledger
    // files, and the `_ledger_fold` marker — and reading them at
    // different phases double-subtracts (new stats + still-present
    // ledger) or overcounts (old stats + already-deleted ledger). So:
    // sample (marker, stats files, ledger files) before and after the
    // reads; equal samples prove no purge phase transitioned underneath
    // (every phase changes one of the three), and the mid-fold guard
    // below then decides from a consistent pair. A changed sample, a
    // half-written marker, or a file vanishing mid-read retries — the
    // purge that invalidated the snapshot finishes in bounded time. The
    // same consistency the ANN probes get from consistentListing,
    // stated over (stats, ledger). Both reads come from the index
    // snapshot, each from the exact files its key lists, so the second
    // sample of each is a listing and no Spark job.
    val marker = new org.apache.hadoop.fs.Path(s"$path/_ledger_fold")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // None = unreadable (vanished/half-written mid-read: retry);
    // Some("") = absent; Some(line) = the pinned "expN expSum" head
    def markerState(): Option[String] =
      if (!fs.exists(marker)) Some("")
      else scala.util.Try(
        IndexMaintenance.readMarker(fs, marker).head).toOption
    def stats() = Bm25Family.routingAndKey(spark, path)
    var attempt = 0
    while (attempt < 6) {
      val read = scala.util.Try {
        val m0 = markerState()
        // the ledger is listed BEFORE the stats: any purge that emptied
        // the ledger committed its stats fold before deleting the files,
        // so a stats listing taken after an empty ledger listing is
        // already the folded row — the ledger-free common case needs no
        // second sample
        val l0 = IndexMaintenance.ledgerRows(spark, path)
        val s0 = stats()
        if (l0.isEmpty) Left(s0._2)
        else {
          val l1 = IndexMaintenance.ledgerRows(spark, path)
          val s1 = stats()
          val m1 = markerState()
          if (l1.isEmpty) Left(s1._2) // raced an emptying purge: s1 is post-fold
          else Right((m0, s0, l0.get, s1, m1, l1.get))
        }
      } match {
        // the driver-rows cap's refusal is a verdict, not a purge race
        case scala.util.Failure(e: IndexMaintenance.LedgerCapExceeded) => throw e
        case t => t.toOption
      }
      read match {
        case Some(Left((nDocs, sumDl, nBuckets, _, _))) =>
          return bm25EffectiveFrom(spark, nDocs, sumDl, nBuckets, None, path)
        case Some(Right((m0, s0, led, s1, m1, l1)))
            if m0.isDefined && m0 == m1 && s0._1 == s1._1 && led.key == l1.key =>
          val (nDocs, sumDl, nBuckets, _, _) = s0._2
          // mid-fold guard: stats already at the marker's pinned values
          // means the subtraction lives in the stats row (and the purged
          // rows are gone) — the ledger must not apply AGAIN
          val folded = m0.get.nonEmpty && {
            val head = m0.get.split(" ")
            head(0).toLong == nDocs && head(1).toLong == sumDl
          }
          return bm25EffectiveFrom(spark, nDocs, sumDl, nBuckets,
            if (folded) None else Some(led), path)
        case Some(Right((m0, _, led, s1, m1, l1)))
            if m0.contains("") && m1.contains("") && led.key == l1.key =>
          // APPEND-ONLY movement (r18 advice): the stats row moved
          // between the samples, but the marker was absent on BOTH
          // sides and the ledger file set is IDENTICAL — a purge cannot
          // have transitioned in the window (its fold phase creates the
          // marker and then deletes ledger files; a whole purge fitting
          // inside the window would still change the listing). What
          // moved is plain ingest traffic rewriting the stats row, and
          // appends never write the ledger, so the LATER stats row
          // paired with the ledger is a consistent (stats, ledger) view.
          val (nDocs, sumDl, nBuckets, _, _) = s1._2
          return bm25EffectiveFrom(spark, nDocs, sumDl, nBuckets, Some(led), path)
        case _ =>
          attempt += 1
          // bounded backoff (20/40/80/160/320 ms): a live fold's
          // marker window is sub-second — give it room to pass instead
          // of burning all attempts inside one window
          if (attempt < 6) Thread.sleep(20L << (attempt - 1))
      }
    }
    throw new IllegalStateException(
      s"could not capture a consistent stats+ledger snapshot of $path after " +
        "6 attempts with backoff — a purge phase transitioned inside every " +
        "window. This needs sustained back-to-back purges; stagger " +
        "maintenance or retry.")
  }

  private def bm25EffectiveFrom(spark: org.apache.spark.sql.SparkSession,
      nDocs: Long, sumDl: Long, nBuckets: Int,
      ledger: Option[IndexMaintenance.Ledger], path: String): (Long, Double, Int, DataFrame => DataFrame) = {
    val (delN, delDl) = ledger.map(_.deletedDocs).getOrElse((0L, 0L))
    val nEff = nDocs - delN
    require(nEff > 0, s"index at $path has no live documents " +
      s"(n_docs $nDocs, deleted $delN) — avgdl is undefined; rebuild with " +
      "writeBm25Index over a non-empty corpus")
    (nEff, (sumDl - delDl).toDouble / nEff, nBuckets,
      IndexMaintenance.dropTombstoned(spark, ledger, "id"))
  }

  /** [[bm25Search]] against a stored [[writeBm25Index]] — identical
    * answers (same tokenizer at build time, same formula, same round-4
    * score + id tie-break), but the per-query cost is the query TERMS'
    * postings lists instead of two corpus passes: the term buckets are
    * pushed as a literal IN on the partition column (directory pruning)
    * with the term equality on top (parquet row-group pruning inside
    * the bucket). The file listing goes through the epoch-validated
    * snapshot gate, so a query racing a fold can never see a folded
    * batch twice. Duplicate query terms are collapsed (a term
    * contributes once — [[bm25Search]] callers pass term SETS). */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queryTerms: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      allowed: Option[DataFrame] = None,
      filter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    require(queryTerms.nonEmpty, "need at least one query term")
    // ONE query through the batch path — the listing, pruning, formula,
    // tombstone and effective-stats handling live in a single place
    // (the repo's pasted-copies-silently-diverge discipline); the
    // batch's (query_id, rank) order at one query IS (score desc, id)
    bm25SearchIndexedMany(spark, path,
      Seq((0L, queryTerms)).toDF("query_id", "terms"),
      topK = topK, k1 = k1, b = b, allowed = allowed, filter = filter)
      .drop("query_id", "rank")
  }

  /** MANY queries against a stored [[writeBm25Index]] in ONE pass — the
    * production retrieval shape (a serving tier scores a BATCH of
    * queries, not one): the union of all queries' terms becomes a
    * single bucket partition filter + term pushdown, so the whole batch
    * pays ONE snapshot-gated listing and ONE pruned scan instead of a
    * listing + scan per query; per-term df is computed once and shared
    * by every query that uses the term; the tiny query frame broadcasts
    * onto the postings rows to fan scores out per query. Per query the
    * answers are EXACTLY [[bm25SearchIndexed]]'s (same formula, round-4
    * + id tie-break — spec-pinned parity). The query frame must be
    * driver-small (its term set is collected to state the partition
    * filter; it broadcasts) — that is the serving contract, thousands
    * of queries, not a corpus.
    *
    * Input: `(qId, qTerms array<string>)` rows — duplicate terms within
    * a query collapse (term SETS, the [[bm25Search]] contract); terms
    * absent from the corpus contribute nothing. Output:
    * `(query_id, id, score, n_terms_hit, rank)` with `rank ≤ topK` per
    * query, ordered (query_id, rank). */
  def bm25SearchIndexedMany(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, qId: String = "query_id",
      qTerms: String = "terms", topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      allowed: Option[DataFrame] = None,
      filter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    val (nDocs, avgdl, nBuckets, live) = bm25Effective(spark, path)
    // the query frame is driver-small by contract (it broadcasts below):
    // collected ONCE — a local frame collects with no job — and its
    // (query, term) pairs and term set built here, term SETS per query
    // exactly as explode(array_distinct(terms)) yields them
    val q = queries.select(col(qId).as("query_id"), col(qTerms).as("terms"))
    val pairs = q.collect().toSeq.flatMap { r =>
      if (r.isNullAt(1)) Nil
      else r.getSeq[String](1).distinct.map(t => org.apache.spark.sql.Row(r.get(0), t))
    }
    val terms = pairs.map(_.getString(1)).distinct
    require(terms.nonEmpty, "need at least one query term across the batch")
    // Spark's own xxhash64 over a local frame (no job): the same bucket
    // function the postings were written with
    val termBuckets = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets)).cast("int").as("bucket"))
      .collect().map(_.getInt(0)).distinct.toSeq
    // the listing goes through the snapshot gate; the schema is known
    val tf0 = Bm25Family.readTable(spark, path, "postings")
      .filter(col("bucket").isin(termBuckets: _*) && col("term").isin(terms: _*))
    // tombstoned docs leave tf AND df, so scores equal a rebuilt index
    val tf = live(tf0)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // FILTERED retrieval (r18): `allowed` restricts the CANDIDATES while
    // df/idf/avgdl stay corpus-global — the Lucene filter-query contract
    // (a tenant's search ranks their docs by the whole corpus's term
    // statistics; contrast deletion above, which removes docs from the
    // stats too). The allowlist is serving-sized by contract (a user's
    // corpus, an access scope — it broadcasts); corpus-sized predicates
    // belong on the semantic side's stored metadata (`metaCols`).
    val tfA = allowed.map { a =>
      // single-column by contract: a positional pick from a wider frame
      // would silently join on the wrong column (r18 review)
      require(a.columns.length == 1,
        s"allowed must be a single id column frame, got [${a.columns.mkString(", ")}]")
      tf.join(broadcast(a.select(col(a.columns.head).as("id"))), Seq("id"), "left_semi")
    }.getOrElse(tf)
    // `filter` (r19) is the CORPUS-SIZED predicate form of the same
    // contract, over metadata columns the build stored on the postings
    // rows (`writeBm25Index(metaCols)`): it restricts the CANDIDATES —
    // applied after `dfreq`, so df/idf/avgdl stay corpus-global exactly
    // like `allowed` — but as a pushdown-able predicate on the pruned
    // scan rather than a materialized id set, so "language = en" never
    // builds a corpus-sized frame anywhere. The df branch reads the
    // unfiltered pruned rows (corpus-global df is the semantic, not an
    // implementation accident); the candidate branch's scan carries the
    // predicate. Composes with `allowed` (both restrict candidates).
    val tfF = filter.map(tfA.filter).getOrElse(tfA)
    val qt = spark.createDataFrame(java.util.Arrays.asList(pairs: _*),
      org.apache.spark.sql.types.StructType(Seq(q.schema("query_id"),
        org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType))))
    tfF.join(broadcast(dfreq), "term")
      .join(broadcast(qt), "term") // fan out per query that asked for the term
      .withColumn("idf",
        log((lit(nDocs) - col("df") + lit(0.5d)) / (col("df") + lit(0.5d)) + lit(1.0d)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (lit(k1) + 1)) /
          (col("tf") + lit(k1) * (lit(1.0d) - lit(b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy("query_id", "id")
      .agg(round(sum(col("contrib")), 4).as("score"), count(lit(1)).as("n_terms_hit"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("id"))))
      .filter(col("rank") <= topK)
      .orderBy("query_id", "rank")
  }

  /** Reciprocal-rank fusion (RRF — Cormack, Clarke & Buettcher, SIGIR
    * 2009): combine rankings of the same id space from HETEROGENEOUS
    * retrievers — the standard way to fuse lexical (BM25) and semantic
    * (ANN cosine) top-k lists without score calibration, since only
    * RANKS enter the formula. Each list contributes `1 / (kRrf + rank)`
    * for every id it ranked (ids absent from a list contribute nothing);
    * `kRrf = 60` is the paper's constant. Output: top `topK` ids by
    * (fused score desc, id), with `n_lists` = how many input lists
    * ranked the id.
    *
    * Inputs are `(id, rank)` frames — already top-k-bounded retriever
    * OUTPUTS, so the fuse is one union + groupBy over at most
    * Σ list sizes rows regardless of corpus size; the 100 TB cost lives
    * in the upstream retrievers (BM25's broadcast term join, the ANN
    * index's pruned probe), not here. An id repeated WITHIN one input
    * list (a retriever that emitted duplicates) is collapsed to its
    * best (lowest) rank before fusing, so one list can never contribute
    * twice to `rrf_score` or inflate `n_lists` past `rankings.length` —
    * the groupBy is over top-k rows, so the guard is free. Deterministic:
    * ranks are ints, ties break by id; with two lists the fused sum is
    * order-independent by commutativity (more lists: the contributions
    * are fixed dyadic-free doubles, so cross-engine equality is pinned
    * by the driver oracle at round-6). */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int = 10,
      kRrf: Int = 60): DataFrame =
    // one query through the batch fusion — formula in a single place
    rrfFuseMany(rankings.map(_.withColumn("query_id", lit(0))), topK, kRrf)
      .drop("query_id")

  /** [[rrfFuse]] over a BATCH of queries — the fusion stage of the
    * batch-serving retrieval stack (r17): each input is a batched
    * retriever output `(query_id, id, rank)` ([[bm25SearchIndexedMany]];
    * [[Similarity.ivfTopKIndexed]] keyed by its query column), and the
    * fusion runs WITHIN each query_id — same formula, same per-list
    * best-rank collapse, same determinism contract as the single form,
    * per query. Inputs are top-k-bounded retriever outputs, so the fuse
    * costs queries × Σ list sizes rows at any corpus size; the 100 TB
    * cost stays in the retrievers. Output: top `topK` ids per query by
    * (rrf_score desc, id), ordered (query_id, rrf_score desc, id). */
  def rrfFuseMany(rankings: Seq[DataFrame], topK: Int = 10,
      kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    require(kRrf > 0, s"kRrf must be positive: $kRrf")
    rankings.map(r => r.groupBy(col("query_id"), col("id"))
        .agg(min(col("rank").cast("double")).as("best_rank"))
        .select(col("query_id"), col("id"),
          (lit(1.0d) / (lit(kRrf) + col("best_rank"))).as("c")))
      .reduce(_ union _)
      .groupBy("query_id", "id")
      .agg(round(sum(col("c")), 6).as("rrf_score"), count(lit(1)).as("n_lists"))
      .withColumn("fused_rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rrf_score").desc, col("id"))))
      .filter(col("fused_rank") <= topK)
      .drop("fused_rank")
      .orderBy(col("query_id"), col("rrf_score").desc, col("id"))
  }

  /** Word-bigram occurrences of a text column (NOT deduped — these are
    * feature counts, like [[charGrams]]). Texts under 2 tokens yield an
    * empty array and are absent from gram-keyed outputs. */
  private def bigramOccurrences(text: Column): Column =
    Dedup.bindArray(tokens(text)) { w =>
      when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1),
          i => concat_ws(" ", slice(w, i, lit(2)))))
        .otherwise(array().cast("array<string>"))
    }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score each raw-corpus
    * document by how much more typical its word bigrams are of a TARGET
    * exemplar corpus (the quality domain you want more of) than of the
    * raw corpus itself — `logw = Σ_g n_doc(g)·(ln p_target(g) −
    * ln q_raw(g))`, the log importance weight of the doc's bag of
    * features. The paper hashes features into a fixed number of buckets;
    * this is the exact-vocabulary regime of the same estimator (the
    * oracle-checkable twin, like [[graft.operators.HeavyHitters]]'
    * exact regime): the feature space is the target's top `vocab`
    * bigrams by count (ties by gram), everything else pools into one
    * OOV bucket — identical bounded-memory shape (vocab+1 probabilities),
    * deterministic instead of hash-dependent. Laplace `smoothing` over
    * the vocab+1 buckets keeps both distributions finite off-support.
    *
    * Scale shape: corpus TEXT is read exactly TWICE, by construction —
    * one MODEL pass (grams bucketed against the broadcast vocab BEFORE
    * the aggregate, so the shuffle carries ≤ vocab+1 rows after
    * map-side combine; the aggregated vocab+1-row table is collected —
    * a BOUNDED driver action, the centroid/codebook convention) and one
    * SCORING pass (broadcast log-ratio join → per-doc combinable sum).
    * The target corpus is read once: its count table is pinned (Dedup's
    * registry — caller drains with `Dedup.unpersistAll`) and its two
    * consumers are direct actions on it. The log-ratio model itself is
    * vocab+1 doubles built on the driver — DSIR's model IS small; what
    * must stay distributed is the two corpus passes, and is. (The first
    * formulation kept every scalar in-plan as broadcast frames; each
    * one re-read the corpus, because cache substitution does not fire
    * for a plan nested over another cached plan — measured 13 text
    * scans vs 3 here, `Plans --executed` census.) Documents under 2
    * tokens have no features and are absent.
    * Returns (id, n_grams, logw). */
  def dsirWeights(
      corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String,
      vocab: Int = 4096, smoothing: Double = 1.0): DataFrame =
    // No shared-explode pin: it lost, 2.01 s vs 1.92 s (OPTIMIZATION_r20.md).
    dsirScore(corpus, idCol, textCol,
      trainDsirModel(corpus, textCol, target, targetTextCol, vocab, smoothing))

  /** The trained DSIR artifact: vocab log ratios + the OOV ratio — the
    * persistable, broadcastable model ([[Bpe.Model]] discipline: train
    * once on the raw-corpus snapshot, score many batches/streams). The
    * q side is the RAW corpus distribution at train time; retrain when
    * the ingest distribution drifts (the [[Similarity.ivfDriftStats]]
    * posture). */
  final case class DsirModel(
      ratios: Seq[(String, Double)], oovLr: Double,
      vocab: Int, smoothing: Double) {
    /** O(1)-lookup view for per-row scorers. */
    lazy val lookup: Map[String, Double] = ratios.toMap
  }

  /** Train the DSIR model — the model half of [[dsirWeights]]'
    * documented two-pass shape: one target pass (pinned count table,
    * two bounded actions) + one raw-corpus pass (grams bucketed against
    * the broadcast vocab BEFORE aggregating, so the shuffle carries
    * ≤ vocab+1 rows after map-side combine; the aggregate is collected —
    * bounded, the centroid/codebook convention). All log ratios are
    * plain driver IEEE arithmetic, so scoring replays exactly in any
    * ANSI oracle. */
  def trainDsirModel(
      corpus: DataFrame, textCol: String,
      target: DataFrame, targetTextCol: String,
      vocab: Int = 4096, smoothing: Double = 1.0): DsirModel =
    trainDsirModelGrams(
      Dedup.spread(corpus)
        .select(explode(bigramOccurrences(col(textCol))).as("g")),
      target, targetTextCol, vocab, smoothing)

  /** [[trainDsirModel]] over a pre-exploded raw-corpus gram column `g`
    * (one row per bigram occurrence) — lets [[dsirWeights]] share one
    * pinned explode between training's q-pass and the scoring pass. */
  private def trainDsirModelGrams(
      qGramRows: DataFrame,
      target: DataFrame, targetTextCol: String,
      vocab: Int, smoothing: Double): DsirModel = {
    require(vocab > 0, "vocab must be positive")
    require(smoothing > 0, "smoothing must be positive (0 gives -inf off-support)")
    val spark = qGramRows.sparkSession
    import spark.implicits._
    val tCounts = Dedup.pin(Dedup.spread(target)
      .select(explode(bigramOccurrences(col(targetTextCol))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("nt")))
    // target-side actions (cache builds once): ≤ vocab rows + one scalar
    val vocabRows: Array[(String, Long)] = tCounts
      .orderBy(col("nt").desc, col("g")).limit(vocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val tTotal = tCounts.agg(coalesce(sum(col("nt")), lit(0L)))
      .collect()(0).getLong(0)
    val tIn = vocabRows.map(_._2).sum
    // raw-corpus pass: bucket every gram (vocab gram or the OOV
    // sentinel — U+0000 cannot collide with space-joined \w+ grams)
    // BEFORE aggregating, so one pass yields vocab counts AND the OOV
    // count and the shuffle is vocab-bounded after map-side combine;
    // the aggregate is ≤ vocab+1 rows, so collecting it is bounded
    val inVocab = broadcast(vocabRows.map(_._1).toSeq.toDF("g")
      .withColumn("inv", lit(true)))
    val qRows: Map[String, Long] = qGramRows
      .join(inVocab, Seq("g"), "left")
      .groupBy(when(col("inv"), col("g")).otherwise(lit("\u0000")).as("g"))
      .agg(count(lit(1)).as("nq"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val qTotal = qRows.valuesIterator.sum
    val qIn = qRows.iterator.collect { case (g, n) if g != "\u0000" => n }.sum
    // denominators smooth over vocab+1 buckets (OOV included)
    val a = smoothing
    def logp(n: Long, tot: Long): Double =
      math.log((n + a) / (tot + a * (vocab + 1)))
    DsirModel(
      vocabRows.toSeq.map { case (g, nt) =>
        (g, logp(nt, tTotal) - logp(qRows.getOrElse(g, 0L), qTotal))
      },
      logp(tTotal - tIn, tTotal) - logp(qTotal - qIn, qTotal),
      vocab, smoothing)
  }

  /** Score a frame against a trained model — [[dsirWeights]]' scoring
    * half: ONE exploded pass, broadcast ratio join, per-doc combinable
    * sum. Returns (id, n_grams, logw). */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
      model: DsirModel): DataFrame =
    dsirScoreGrams(Dedup.spread(df)
      .select(col(idCol).as("id"),
        explode(bigramOccurrences(col(textCol))).as("g")), model)

  /** [[dsirScore]] over pre-exploded (id, g) bigram-occurrence rows —
    * the shared-explode half of [[dsirWeights]]. */
  private def dsirScoreGrams(grams: DataFrame, model: DsirModel): DataFrame = {
    val spark = grams.sparkSession
    import spark.implicits._
    val ratio = model.ratios.toDF("g", "lr")
    grams
      .join(broadcast(ratio), Seq("g"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        round(sum(coalesce(col("lr"), lit(model.oovLr))), 4).as("logw"))
  }

  /** Stateless per-ROW scorer: same (id, n_grams, logw) as [[dsirScore]]
    * from one tight pass per document (tokenize → bigram → O(1) hash
    * lookups, left-to-right sum — the [[Dedup.shingleHashUdf]] one-pass-
    * UDF precedent). No explode, no join, NO SHUFFLE — a pure projection,
    * which makes it legal on an UNBOUNDED streaming DataFrame (the
    * aggregate form's groupBy would demand streaming-aggregation state
    * for what is logically per-row arithmetic). Docs under 2 tokens
    * score (0, 0.0) here — they have no features, and a streaming
    * projection cannot drop-by-absence the way the exploded form does;
    * filter `n_grams > 0` for exact batch parity. */
  def dsirScoreRows(df: DataFrame, idCol: String, textCol: String,
      model: DsirModel): DataFrame = {
    val lookup = model.lookup
    val oov = model.oovLr
    // compiled once per executor (Pattern is Serializable), not per row
    val pat = java.util.regex.Pattern.compile("\\w+")
    val score = udf { (text: String) =>
      if (text == null) (0L, 0.0d)
      else {
        val m = pat.matcher(text.toLowerCase(java.util.Locale.ROOT))
        val words = scala.collection.mutable.ArrayBuffer.empty[String]
        while (m.find()) words += m.group()
        if (words.length < 2) (0L, 0.0d)
        else {
          var acc = 0.0d
          var i = 0
          while (i < words.length - 1) {
            acc += lookup.getOrElse(words(i) + " " + words(i + 1), oov)
            i += 1
          }
          ((words.length - 1).toLong,
            BigDecimal(acc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
    }
    df.select(col(idCol).as("id"), score(col(textCol)).as("s"))
      .select(col("id"), col("s._1").as("n_grams"), col("s._2").as("logw"))
  }

  /** Persist a DSIR model: the ratio table plus a one-row meta table
    * (the [[Bpe.saveModel]] layout). */
  def saveDsirModel(model: DsirModel, spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import spark.implicits._
    model.ratios.toDF("g", "lr")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/ratios")
    Seq((model.oovLr, model.vocab, model.smoothing))
      .toDF("oov_lr", "vocab", "smoothing")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Reload a persisted DSIR model — scores are identical to the trained
    * one's (the ratios are stored verbatim as doubles). */
  def loadDsirModel(spark: org.apache.spark.sql.SparkSession,
      path: String): DsirModel = {
    val ratios = spark.read.parquet(s"$path/ratios")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val meta = spark.read.parquet(s"$path/meta").collect()(0)
    DsirModel(ratios, meta.getDouble(0), meta.getInt(1), meta.getDouble(2))
  }

  /** DSIR selection: sample `k` documents without replacement with
    * probability ∝ exp([[dsirWeights]]' logw) via the Gumbel-top-k
    * trick (Plackett–Luce sampling as one ranking pass) — the paper's
    * resampling step, made deterministic: the Gumbel draw's uniform
    * comes from [[mixKey]] of the doc id (`u = (mix + 0.5)/2^32`,
    * `gumbel = −ln(−ln u)`), so the selected set is identical across
    * engines, reruns and partitionings — no RNG state. The sort key is
    * rounded to 4 dp BEFORE ranking (summation-order ulps must not flip
    * a rank, the [[Classify]] convention), ties broken by id. Scale: the
    * weighting pass is [[dsirWeights]]; selection is TakeOrdered — the
    * global window only ever sees the k survivors. Returns
    * (rank, id, logw, key). */
  def dsirSelect(
      corpus: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetTextCol: String, k: Int,
      vocab: Int = 4096, smoothing: Double = 1.0): DataFrame = {
    require(k > 0, "k must be positive")
    val weighted = dsirWeights(corpus, idCol, textCol, target, targetTextCol,
      vocab, smoothing)
    val u = (mixKey(col("id")) + lit(0.5d)) / lit(4294967296.0d)
    val picked = weighted
      .withColumn("key", round(col("logw") - log(-log(u)), 4))
      .orderBy(col("key").desc, col("id"))
      .limit(k)
    picked.withColumn("rank",
        row_number().over(Window.orderBy(col("key").desc, col("id"))))
      .select(col("rank"), col("id"), col("logw"), col("key"))
  }
}
