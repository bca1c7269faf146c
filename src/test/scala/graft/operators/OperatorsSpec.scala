package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Behavior tests for the beyond-reference operator family: known-answer
  * dedup/similarity cases and classifier sanity on real multilingual text. */
class OperatorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("operators-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def deleteTree(dir: String): Unit = {
    val tree = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try tree.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
    finally tree.close()
  }

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "text")
  }

  private val loremA = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5).trim
  private val loremB = loremA.replace("delta", "DELTA-PRIME") // near-dup of A
  private val unrelated = "completely different words about spark clusters shuffles and parquet files forever"

  test("minhash near-dups: finds the planted near-duplicate, not the unrelated doc") {
    val df = docs(1L -> loremA, 2L -> loremB, 3L -> unrelated)
    val pairs = Dedup.minhashNearDups(df, "id", "text", shingleK = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getAs[Double]("jaccard") > 0.5)
  }

  test("persist lifecycle: unpersistAll drains every intermediate Dedup pinned") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = docs(1L -> loremA, 2L -> loremB, 3L -> unrelated, 4L -> loremA)
    Dedup.minhashNearDups(df, "id", "text").count()
    Dedup.ngramJaccardPairs(df, "id", "text", 3, 0.5).count()
    val during = sc.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty, "the near-dup operators pin intermediates by design")
    val released = Dedup.unpersistAll(spark)
    assert(released >= 4, s"expected the registered pins back, got $released")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs leaked past unpersistAll: $leaked")
    // idempotent: a second drain finds nothing
    assert(Dedup.unpersistAll(spark) == 0)
  }

  test("persist lifecycle: Verify/Bench-style replay drains after EVERY query, including Curation's pins") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = docs(1L -> loremA, 2L -> loremB, 3L -> unrelated, 4L -> loremA)
    val bench = docs(10L -> loremA.take(60))
    // the three pin-heavy families, run the way Verify/Bench now run them:
    // action then drain, every iteration — nothing may accumulate across
    // queries in a long replay session
    val queries: Seq[() => Long] = Seq(
      () => Dedup.minhashNearDups(df, "id", "text").count(),
      () => Dedup.substringDedup(df, "id", "text", k = 20).count(),
      // broadcastBench=false exercises the Curation pin through the shared
      // registry (ADVICE r9: `candidates` is double-referenced)
      () => Curation.scrubSpans(df, "id", "text", bench, "text", k = 20,
        broadcastBench = false).count())
    queries.foreach { q =>
      q()
      Dedup.unpersistAll(spark)
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"pins survived a per-query drain: $leaked")
    }
  }

  test("embedding near-dups: verified subset of brute force, planted copy always found, geometry-invariant") {
    val s = spark
    import s.implicits._
    val base = graft.tools.EmbedSynth.corpus(spark, 60, 16, nClusters = 6, noise = 0.3)
    // exact copy of vector 0 under a new id: identical sign signature ->
    // collides in EVERY band at ANY geometry, cosine exactly 1.0
    val copy = base.filter(col("vec_id") === 0).select(lit(1000L).as("vec_id"), col("e"))
    val corpus = base.unionByName(copy)
    val exact = corpus.select(col("vec_id").as("id_a"), col("e").as("va"))
      .crossJoin(corpus.select(col("vec_id").as("id_b"), col("e").as("vb")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("c", Similarity.cosine(col("va"), col("vb")))
      .filter(col("c") >= 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((p, b) <- Seq((16, 4), (32, 8))) {
      val got = Dedup.embeddingNearDups(corpus, "vec_id", "e", dim = 16,
          cosineThreshold = 0.95, planes = p, bands = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // exact-cosine verification means NO false positives at any geometry
      assert(got.forall { case (a, bb, _) => exact((a, bb)) },
        s"geometry ${p}x$b reported a sub-threshold pair")
      val planted = got.find(t => t._1 == 0L && t._2 == 1000L)
      assert(planted.isDefined, s"geometry ${p}x$b missed the identical copy")
      assert(planted.get._3 === 1.0)
    }
  }

  test("simhash near-dups: close fingerprint found, unrelated doc not") {
    // High token diversity keeps per-bit vote counts away from zero, so a
    // one-token append drifts only a few bits; pick a suffix within
    // hamming 3 deterministically (drift per token varies).
    val diverse = (0 until 80).map(i => f"word$i%03d").mkString(" ")
    val fpA = Dedup.simhash64(diverse)
    val suffix = Seq("suffixa", "suffixb", "suffixc", "suffixd", "suffixe", "suffixf")
      .find(s => java.lang.Long.bitCount(fpA ^ Dedup.simhash64(diverse + " " + s)) <= 3)
    assert(suffix.isDefined, "no suffix yields hamming <= 3; adjust fixture")
    val near = diverse + " " + suffix.get
    val df = docs(1L -> diverse, 2L -> near, 3L -> unrelated)
    val pairs = Dedup.simhashNearDups(df, "id", "text").collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((1L, 2L)))
    assert(!found.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("ngram jaccard agrees with hand-computed value") {
    val df = docs(1L -> "a b c d e", 2L -> "a b c d x")
    // 3-shingles: {abc,bcd,cde} vs {abc,bcd,cdx}: inter=2, union=4 -> 0.5
    val pairs = Dedup.ngramJaccardPairs(df, "id", "text", k = 3, threshold = 0.4).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Double]("jaccard") === 0.5)
  }

  test("setSignatureSurvivors: CC-path parity in the uncapped regime; set-equal texts merge; gramless docs all survive") {
    val df = docs(
      1L -> loremA, 11L -> loremA,           // identical-copy class
      2L -> loremB, 12L -> loremB,           // identical-copy class
      3L -> unrelated,                       // singleton
      4L -> "too short", 5L -> "too short",  // gramless (2 words < k): both survive
      6L -> "a b c a b c a b c",             // set-equal but text-distinct:
      7L -> "a b c a b c")                   //  both have shingle set {abc,bca,cab}
    val sig = Dedup.setSignatureSurvivors(df, "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sig === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // pairwise agreement with the general pipeline where no shingle is capped
    val pairs = Dedup.ngramJaccardPairs(df, "id", "text", k = 3, threshold = 1.0)
    val cc = Dedup.keepOnePerComponent(df, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(cc === sig)
    Dedup.unpersistAll(spark)
  }

  test("exact dedup keeps one row per key") {
    val df = docs(1L -> "same", 2L -> "same", 3L -> "other")
    assert(Dedup.exact(df, Seq("text")).count() === 2)
    val groups = Dedup.exactGroups(df, "text", "id").collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("keep_id") === 1L)
    assert(groups.head.getAs[Long]("n_copies") === 2L)
  }

  test("brute-force topk: self-similar vectors rank first; lsh recalls most of topk") {
    val s = spark
    import s.implicits._
    // 40 corpus vectors in 8-d: four tight clusters around axis bundles.
    val base = (0 until 40).map { i =>
      val v = Array.fill(8)(0.05 * ((i * 7 + 3) % 5))
      v(i % 4) = 1.0
      v((i % 4 + 4) % 8) = 0.5 + 0.01 * i
      (i.toLong, v)
    }
    val corpus = base.toDF("vec_id", "e")
    val queries = corpus.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(queries, "vec_id", "e", corpus, "vec_id", "e", k = 5)
    val exactSet = exact.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.groupBy("query_id").count().collect().forall(_.getLong(1) === 5))
    // top neighbors of query i share cluster i (mod 4)
    exactSet.foreach { case (q, c) => assert(c % 4 === q % 4, s"query $q got cross-cluster $c") }

    val approx = Similarity.lshTopK(queries, "vec_id", "e", corpus, "vec_id", "e",
      dim = 8, k = 5, planes = 16, bands = 8)
    val approxSet = approx.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exactSet & approxSet).size.toDouble / exactSet.size
    assert(recall >= 0.6, s"LSH recall too low: $recall")
  }

  test("ngram jaccard prefix variant: exact parity with the all-token plan") {
    // Mixed corpus: exact dup, two near-dup families at different sizes,
    // disjoint docs, and a short doc below the shingle threshold.
    val fam1 = (0 until 20).map(i => s"t$i").mkString(" ")
    val fam2 = (0 until 40).map(i => s"u$i").mkString(" ")
    val df = docs(
      1L -> fam1, 2L -> fam1, 3L -> (fam1 + " extra tail words here"),
      4L -> fam2, 5L -> fam2.replace("u7", "X7").replace("u31", "X31"),
      6L -> unrelated, 7L -> "too short")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val a = Dedup.ngramJaccardPairs(df, "id", "text", k = 3, threshold = t)
        .collect().map(_.toString).sorted
      val b = Dedup.ngramJaccardPairsPrefix(df, "id", "text", k = 3, threshold = t)
        .collect().map(_.toString).sorted
      assert(a.sameElements(b), s"threshold $t: ${a.toSeq} vs ${b.toSeq}")
      assert(t > 0.3 || a.nonEmpty, "fixture produced no pairs at t=0.3")
    }
    // broadcastVerify is purely physical: identical answers, and the
    // verify tail's sketch joins become broadcast joins in the plan
    val plain = Dedup.ngramJaccardPairsPrefix(df, "id", "text", k = 3, threshold = 0.5)
      .collect().map(_.toString).sorted
    val bcast = Dedup.ngramJaccardPairsPrefix(df, "id", "text", k = 3, threshold = 0.5,
      broadcastVerify = true)
    assert(bcast.collect().map(_.toString).sorted.sameElements(plain))
    val phys = bcast.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"broadcastVerify=true produced no broadcast join:\n$phys")
  }

  test("ngram jaccard on sf0.01 documents: broadcast verify == shuffle verify == all-token, pair for pair") {
    // The real corpus (500 organic docs), not a synthetic fixture: the
    // scale escape hatch for clique-dense corpora (prefix plan +
    // broadcastVerify) must be answer-identical to both the shuffle
    // verify and the all-token default here, where the df-cap never
    // fires. This is the operator-API guarantee the sf10 runbook
    // (SCALE.md r11) relies on when it says "switch variants, same
    // pairs".
    val df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    def rows(p: DataFrame): Seq[String] = p.collect().map(_.toString).sorted.toSeq
    val allToken = rows(Dedup.ngramJaccardPairs(df, "id", "text", k = 3, threshold = 0.5))
    val shuffleV = rows(Dedup.ngramJaccardPairsPrefix(df, "id", "text", k = 3, threshold = 0.5))
    val bcastV = rows(Dedup.ngramJaccardPairsPrefix(df, "id", "text", k = 3, threshold = 0.5,
      broadcastVerify = true))
    assert(allToken.nonEmpty, "sf0.01 documents produced no ngram-jaccard pairs at t=0.5")
    assert(shuffleV === allToken)
    assert(bcastV === shuffleV)
  }

  test("exact-dup pre-collapse: collapsed output equals the direct path pair for pair") {
    // dup-dense fixture exercising every expansion case: a 4-copy group,
    // a 3-copy group near-dup to it, duplicated short docs (< k words,
    // which must NOT pair in the shingle family), an empty-text pair, a
    // null-text doc, and a singleton
    val fam = (0 until 20).map(i => s"w$i").mkString(" ")
    val famNear = fam.replace("w7", "X7")
    val df = docs(
      1L -> fam, 2L -> fam, 3L -> fam, 4L -> fam,
      5L -> famNear, 6L -> famNear, 7L -> famNear,
      8L -> "too short", 9L -> "too short",
      10L -> "", 11L -> "", 12L -> null.asInstanceOf[String],
      13L -> unrelated)
    def rows(p: DataFrame): Seq[String] = p.collect().map(_.toString).sorted.toSeq
    for (t <- Seq(0.3, 0.5)) {
      val direct = rows(Dedup.ngramJaccardPairs(df, "id", "text", k = 3,
        threshold = t, collapseExact = false))
      val collapsed = rows(Dedup.ngramJaccardPairs(df, "id", "text", k = 3,
        threshold = t, collapseExact = true))
      assert(collapsed === direct, s"ngram parity broke at t=$t")
      assert(collapsed.nonEmpty)
    }
    assert(rows(Dedup.minhashNearDups(df, "id", "text", collapseExact = true)) ===
      rows(Dedup.minhashNearDups(df, "id", "text", collapseExact = false)))
    assert(rows(Dedup.simhashNearDups(df, "id", "text", collapseExact = true)) ===
      rows(Dedup.simhashNearDups(df, "id", "text", collapseExact = false)))
    // the intra-group expansion emits every pair of a 4-copy group at 1.0
    val mh = Dedup.minhashNearDups(df, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    for (a <- 1L to 4L; b <- (a + 1) to 4L) assert(mh((a, b)) === 1.0)
    // duplicated sub-k docs never pair in the shingle family
    assert(!mh.keySet.exists { case (a, b) => a >= 8L && b <= 12L })
  }

  test("ngram jaccard weighted df-cap: collapse fires the cap on full-corpus frequency") {
    // 6 copies of one doc + 1 distinct near-dup; dfCap=5 means every gram
    // of the duplicated doc is over the cap corpus-wide (df=6 or 7) even
    // though only 2 DISTINCT texts carry it — an unweighted collapsed
    // count (2) would miss the cap and diverge from the direct path
    val fam = (0 until 12).map(i => s"z$i").mkString(" ")
    val near = fam.replace("z5", "Y5")
    val df = docs((1L to 6L).map(_ -> fam) :+ (7L -> near): _*)
    for (cap <- Seq(5, 100)) {
      val direct = Dedup.ngramJaccardPairs(df, "id", "text", k = 3,
        threshold = 0.3, dfCap = cap, collapseExact = false)
        .collect().map(_.toString).sorted.toSeq
      val collapsed = Dedup.ngramJaccardPairs(df, "id", "text", k = 3,
        threshold = 0.3, dfCap = cap, collapseExact = true)
        .collect().map(_.toString).sorted.toSeq
      assert(collapsed === direct, s"dfCap=$cap parity broke")
    }
  }

  test("ivf topk: exhaustive probe recovers brute force; partial probe has recall; dim mismatch throws") {
    val s = spark
    import s.implicits._
    val base = (0 until 40).map { i =>
      val v = Array.fill(8)(0.05 * ((i * 7 + 3) % 5))
      v(i % 4) = 1.0
      v((i % 4 + 4) % 8) = 0.5 + 0.01 * i
      (i.toLong, v)
    }
    val corpus = base.toDF("vec_id", "e")
    val queries = corpus.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(queries, "vec_id", "e", corpus, "vec_id", "e", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // nprobe = nlist probes every cell -> bit-identical to brute force
    val exhaustive = Similarity.ivfTopK(queries, "vec_id", "e", corpus, "vec_id", "e",
        k = 5, nlist = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(exhaustive === exact)
    // partial probe: approximate but clustered data keeps recall high
    val partial = Similarity.ivfTopK(queries, "vec_id", "e", corpus, "vec_id", "e",
        k = 5, nlist = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map { case (q, c, _, _) => (q, c) }
    val recall = (exactPairs & partial).size.toDouble / exactPairs.size
    assert(recall >= 0.6, s"IVF recall too low: $recall")
    // a corpus vector of the wrong dimension must fail loudly, not be
    // silently assigned to an arbitrary cell
    val corrupt = corpus.union(Seq((99L, Array(1.0, 2.0))).toDF("vec_id", "e"))
    // driver-side (training) -> IllegalArgumentException; executor-side
    // (assignment) -> wrapped in SparkException: accept either, but the
    // message must name the dimension mismatch.
    val ex = intercept[Exception] {
      Similarity.ivfTopK(queries, "vec_id", "e", corrupt, "vec_id", "e",
        k = 5, nlist = 4, nprobe = 4).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("dimension"), s"unexpected failure: $msgs")
  }

  test("ivfPq topk: a query longer than the centroids fails naming the dimension") {
    val s = spark
    import s.implicits._
    val corpus = (0 until 40).map { i =>
      val v = Array.fill(8)(0.05 * ((i * 7 + 3) % 5))
      v(i % 4) = 1.0
      (i.toLong, v)
    }.toDF("vec_id", "e")
    val longer = Seq((0L, Array.fill(9)(1.0))).toDF("vec_id", "e")
    val ex = intercept[Exception] {
      Pq.ivfPqTopK(longer, "vec_id", "e", corpus, "vec_id", "e",
        k = 3, nlist = 4, nprobe = 2, m = 2, ksub = 4).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("dimension"), s"unexpected failure: $msgs")
  }

  test("the nprobe-widening ladder stays within [min(nlist, 2·np), nlist] and jumps to nlist on no candidates") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val step = for {
      nlist <- Gen.chooseNum(1, Int.MaxValue)
      np <- Gen.chooseNum(1, nlist)
      minGot <- Gen.frequency(1 -> Gen.const(0L), 4 -> Gen.chooseNum(0L, Long.MaxValue))
      minCandidates <- Gen.chooseNum(1, Int.MaxValue)
    } yield (nlist, np, minGot, minCandidates)
    (0 until 500).foreach { i =>
      val (nlist, np, minGot, minCandidates) =
        step.apply(Gen.Parameters.default, Seed(20261020L + i)).get
      val next = Similarity.widenedNprobe(np, nlist, minGot, minCandidates)
      withClue(s"case $i: nlist $nlist, np $np, minGot $minGot, minCandidates $minCandidates: ") {
        assert(next <= nlist)
        assert(next >= math.min(nlist.toLong, 2L * np))
        if (minGot == 0L) assert(next === nlist)
      }
    }
  }

  test("as-of join: latest at-or-before match, ties match, no-match yields nulls") {
    val s = spark
    import s.implicits._
    val left = Seq(
      (1L, 100L, 10L),  // after right ts 5 -> matches v=50
      (2L, 100L, 5L),   // tie with right ts 5 -> ts >= semantics matches
      (3L, 100L, 3L),   // before any right row -> nulls
      (4L, 200L, 99L),  // key with no right rows at all -> nulls
      (5L, 100L, 20L))  // matches the later right row v=70
      .toDF("event_id", "user_id", "ts")
      // a left row with a NULL key never matches but must survive
      .unionByName(spark.sql("SELECT 6L AS event_id, CAST(NULL AS BIGINT) AS user_id, 7L AS ts"))
    val right = Seq((100L, 5L, 50.0), (100L, 15L, 70.0), (300L, 1L, 9.9))
      .toDF("user_id", "ts", "v")
      // SQL semantics: right rows with NULL key or NULL ts match nothing
      .unionByName(spark.sql(
        "SELECT * FROM VALUES (CAST(NULL AS BIGINT), 5L, 88.0), (100L, CAST(NULL AS BIGINT), 99.0) AS t(user_id, ts, v)"))
    val out = AsOfJoin.leftAsOf(left, right, Seq("user_id"), "ts", Seq("v"), "p_")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[java.lang.Long]("p_ts")), Option(r.getAs[java.lang.Double]("p_v"))))
      .toMap
    assert(out.size === 6)
    assert(out(1L) === (Some(5L), Some(50.0)))
    assert(out(2L) === (Some(5L), Some(50.0)))
    assert(out(3L) === (None, None))
    assert(out(4L) === (None, None))
    assert(out(5L) === (Some(15L), Some(70.0)))
    assert(out(6L) === (None, None)) // null key: no match, row kept
  }

  test("range join: grid-bucketed equals brute-force BETWEEN, boundaries inclusive") {
    val s = spark
    import s.implicits._
    // intervals spanning multiple cells, exactly one cell, and cell edges
    val iv = Seq((1L, 0L, 5L), (2L, 5L, 5L), (3L, 7L, 40L), (4L, 15L, 16L), (5L, 31L, 33L))
      .toDF("iv_id", "s0", "e0")
    val pts = Seq(0L, 5L, 6L, 16L, 32L, 40L, 41L, -1L).toDF("p")
    for (w <- Seq(1L, 4L, 16L, 100L)) {
      val grid = RangeJoin.pointInInterval(pts, "p", iv, "s0", "e0", bucketWidth = w)
        .select("p", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = pts.crossJoin(iv)
        .filter(col("p") >= col("s0") && col("p") <= col("e0"))
        .select("p", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(grid === brute, s"bucketWidth $w")
    }
    // spot checks: inclusive ends, and the no-match point
    val g = RangeJoin.pointInInterval(pts, "p", iv, "s0", "e0", 4L)
      .select("p", "iv_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g.contains((5L, 1L)) && g.contains((5L, 2L)) && g.contains((40L, 3L)))
    assert(!g.exists(_._1 == 41L) && !g.exists(_._1 == -1L))
  }

  test("heavy hitters sketch: exact when capacity suffices; bounded overestimate when not") {
    val s = spark
    import s.implicits._
    // zipf-ish stream: key i appears 2^(8-i) times, i = 0..7
    val rows = (0 until 8).flatMap(i => Seq.fill(1 << (8 - i))(s"k$i"))
    val df = rows.toDF("key").repartition(4) // force multi-partition merges
    def run(k: Int, cap: Int) = {
      val agg = udaf(new HeavyHitters(k, cap), org.apache.spark.sql.Encoders.STRING)
      df.agg(agg(col("key")).as("tk")).select(explode(col("tk")).as("h"))
        .select("h.key", "h.cnt", "h.err")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    // exact regime: capacity >= distinct keys -> true counts, zero error
    val exact = run(3, 16)
    assert(exact.toSeq === Seq(("k0", 256L, 0L), ("k1", 128L, 0L), ("k2", 64L, 0L)))
    // approximate regime: capacity 4 < 8 distinct; Space-Saving still
    // guarantees cnt >= true and cnt - err <= true for reported keys,
    // and the dominant key must surface
    val approx = run(3, 4)
    val trueCounts = rows.groupBy(identity).map { case (key, v) => key -> v.size.toLong }
    assert(approx.exists(_._1 == "k0"), s"dominant key missing: ${approx.toSeq}")
    approx.foreach { case (key, cnt, err) =>
      val t = trueCounts.getOrElse(key, 0L)
      assert(cnt >= t, s"$key: cnt $cnt < true $t")
      assert(cnt - err <= t, s"$key: lower bound ${cnt - err} > true $t")
    }
    // NULL is its own group (SQL GROUP BY semantics), distinct from ""
    val withNulls = (Seq.fill(5)(null: String) ++ Seq.fill(3)("") ++ Seq.fill(2)("x"))
      .toDF("key").repartition(2)
    val agg = udaf(new HeavyHitters(3, 16), org.apache.spark.sql.Encoders.STRING)
    val nk = withNulls.agg(agg(col("key")).as("tk"))
      .select(explode(col("tk")).as("h")).select("h.key", "h.cnt")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(nk === Map(None -> 5L, Some("") -> 3L, Some("x") -> 2L))
  }

  test("salted join equals the plain join") {
    val s = spark
    import s.implicits._
    // skewed big side: key 1 dominates
    val big = ((1 to 40).map(i => (1L, i)) ++ Seq((2L, 100), (3L, 200), (9L, 999)))
      .toDF("k", "payload")
    val small = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("k", "name")
    val salted = Skew.saltedJoin(big, small, Seq("k"), salts = 5)
      .collect().map(_.toString).sorted
    val plain = big.join(small, Seq("k")).collect().map(_.toString).sorted
    assert(salted.sameElements(plain))
    assert(salted.length === 41) // 40 hits on key 1 + 1 on key 2; keys 3,9,4 drop
  }

  test("connected components: chains, cliques and singletons resolve to min id") {
    val s = spark
    import s.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (clique), {20,21} (pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // keep-one: corpus {1..4, 10..12, 20, 21, 99}; 99 has no pairs
    val corpus = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 99L)).toDF("id")
    val kept = Dedup.keepOnePerComponent(corpus, "id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 10L, 20L, 99L))
  }

  test("connected components: 50-edge chain converges to one component") {
    val s = spark
    import s.implicits._
    // path graph 0-1-2-...-50: diameter 50 — min-label-only propagation
    // with 20 iters would silently split this; pointer doubling must not.
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length === 51)
    assert(comps.forall(_._2 === 0L), "chain split into multiple components")
  }

  test("connected components: reliable checkpoint path writes to the dir, same answer") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    try {
      val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val comps = Dedup.connectedComponents(chain, checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(comps.length === 51 && comps.forall(_._2 === 0L))
      // the lineage cuts must actually have landed in fault-tolerant
      // storage (that is the entire point of the option); rounds live under
      // a per-call unique graft_cc_<token> subdir (shared-dir safety)
      val callDirs = Option(new java.io.File(dir).listFiles).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("graft_cc_"))
      assert(callDirs.length === 1, s"expected one per-call dir under $dir")
      val rounds = Option(callDirs.head.listFiles).toSeq.flatten
        .filter(_.getName.startsWith("round_"))
      assert(rounds.nonEmpty, s"no reliable round tables under $dir")
      // retention: converged rounds are deleted as the iteration advances;
      // ONLY the final round's table (which the returned frame reads from)
      // may remain — long runs must not accumulate one table per round
      assert(rounds.length === 1,
        s"stale round tables left behind: ${rounds.map(_.getName).sorted}")
      // nothing session-wide was repointed by the reliable path
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "connectedComponents set the SparkContext-wide checkpoint dir")
    } finally deleteTree(dir)
  }

  test("connected components: two calls safely share one checkpointDir") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt-shared").toString
    try {
      val chainA = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val chainB = (100L until 140L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      // second call runs while the first call's lazy result is still
      // unconsumed — with fixed round names it would clobber/delete the
      // first call's final table out from under the returned frame
      val a = Dedup.connectedComponents(chainA, checkpointDir = Some(dir))
      val b = Dedup.connectedComponents(chainB, checkpointDir = Some(dir))
      val aRows = a.collect().map(r => r.getLong(0) -> r.getLong(1))
      val bRows = b.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(aRows.length === 31 && aRows.forall(_._2 === 0L))
      assert(bRows.length === 41 && bRows.forall(_._2 === 100L))
    } finally deleteTree(dir)
  }

  test("connected components: non-convergence deletes every reliable round table") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt-nc").toString
    try {
      val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      assertThrows[IllegalStateException] {
        Dedup.connectedComponents(chain, maxIters = 2, checkpointDir = Some(dir)).collect()
      }
      val left = Option(new java.io.File(dir).listFiles).toSeq.flatten
        .filter(_.getName.startsWith("graft_cc_"))
      assert(left.isEmpty, s"non-convergence left round tables: ${left.map(_.getName).sorted}")
    } finally deleteTree(dir)
  }

  test("connected components: non-convergence throws, never splits silently") {
    val s = spark
    import s.implicits._
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 2).collect()
    }
  }

  test("ngram jaccard length-ratio prefilter drops no qualifying pair") {
    // sizes 3 vs 30 shingles: ratio 0.1 < 0.5 threshold — prefiltered AND
    // genuinely below threshold; sizes equal: kept.
    val big = (0 until 32).map(i => s"w$i").mkString(" ")
    val df = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> (big + " a b c d e"))
    val pairs = Dedup.ngramJaccardPairs(df, "id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("minhash pairs -> components -> keep-one end-to-end") {
    val df = docs(1L -> loremA, 2L -> loremB, 3L -> unrelated)
    val pairs = Dedup.minhashNearDups(df, "id", "text")
    val kept = Dedup.keepOnePerComponent(df, "id", pairs.select("id_a", "id_b"))
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L)) // 2 deduped into 1; unrelated survives
  }

  test("lang id on real multilingual text") {
    val cases = Seq(
      "the quick brown fox jumps over the lazy dog and it was not the end" -> "en",
      "der Hund ist nicht mit der Katze und ich bin ein Berliner" -> "de",
      "je ne pas une baguette pour le petit déjeuner dans la maison" -> "fr",
      "el perro y el gato no son una familia por la mañana" -> "es",
      "这是一个中文句子用来测试语言识别" -> "zh",
      "これは日本語のテストですかな" -> "ja",
      "Это русский текст для проверки" -> "ru",
      "12345 67890 !!!" -> "und"
    )
    cases.foreach { case (text, expected) =>
      val got = TextAnalysis.langIdFn(text)
      assert(got === expected, s"'$text' -> $got, want $expected")
    }
  }

  test("lang_id_exact fixtures: each classifies to its label, uniquely evidenced") {
    // The exact-regime oracle (lang_id_exact) is only sound if every
    // fixture's classification is closed-form: script-pure rows must win
    // the script majority, Latin rows must hit EXACTLY one language's
    // stopword profile (so the vote has a unique winner and the Map
    // iteration order can never decide a tie).
    TextAnalysis.langIdFixtures.foreach { case (label, text) =>
      val got = TextAnalysis.langIdFn(text)
      assert(got === label, s"fixture '$label' classified as '$got'")
    }
    assert(TextAnalysis.langIdFixtures.map(_._1) ===
      IndexedSeq("en", "de", "fr", "es", "it", "pt",
        "ja", "zh", "ko", "ru", "ar", "und"),
      "fixture order IS the oracle's CASE contract — do not reorder")
  }

  test("quality score ranges and ordering") {
    val good = "This is a reasonably long and well formed paragraph of ordinary " +
      "English prose with sensible words and enough length to hit the cap of the factor."
    val noisy = "@@@ ### $$$ %%% 1 2 3 !!!"
    val df = docs(1L -> good, 2L -> noisy)
    val scores = TextAnalysis.textStats(df, "id", "text")
      .select("id", "quality").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores(1L) > 0.5)
    assert(scores(2L) < 0.2)
    assert(scores.values.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("multimodal: magic-byte metadata + stubbed feature extraction plumbing") {
    val s = spark
    import s.implicits._
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3)
    val jpg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte, 9, 9)
    val df = Seq((1L, png), (2L, jpg)).toDF("id", "payload")
    val media = Multimodal.asMedia(df, "payload")
    val formats = media.select(col("id"), col("media.meta.format")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(formats === Map(1L -> "png", 2L -> "jpeg"))
    // Real header-parsed dimensions (no codec): PNG IHDR 640x480 BE,
    // GIF logical screen 320x200 LE, JPEG SOF0 64x48 after an APP0 skip.
    val png2 = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80.toByte, 0, 0, 1, 0xE0.toByte) // 640, 480
    val gif = Array[Byte]('G', 'I', 'F', '8', '9', 'a',
      0x40, 0x01, 0xC8.toByte, 0x00) // 320 LE, 200 LE
    val jpgSof = Array[Byte](0xFF.toByte, 0xD8.toByte,
      0xFF.toByte, 0xE0.toByte, 0x00, 0x04, 0x4A, 0x46, // APP0 len 4
      0xFF.toByte, 0xC0.toByte, 0x00, 0x0B, 0x08,       // SOF0 len 11
      0x00, 0x30, 0x00, 0x40, 0x03, 0, 0, 0)            // h=48, w=64
    val dims = Multimodal.asMedia(
        Seq((1L, png2), (2L, gif), (3L, jpgSof), (4L, Array[Byte](1, 2, 3, 4)))
          .toDF("id", "payload"), "payload")
      .select(col("id"), col("media.meta.width"), col("media.meta.height"))
      .collect()
      .map(r => r.getLong(0) -> (Option(r.getAs[Integer](1)), Option(r.getAs[Integer](2)))).toMap
    assert(dims(1L) === (Some(640), Some(480)))
    assert(dims(2L) === (Some(320), Some(200)))
    assert(dims(3L) === (Some(64), Some(48)))
    assert(dims(4L) === (None, None))
    // WAV: RIFF/WAVE + PCM fmt chunk -> 44100 Hz stereo, header-parsed
    val wav = Array[Byte]('R', 'I', 'F', 'F', 0x24, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0, 1, 0, 2, 0,
      0x44, 0xAC.toByte, 0, 0, 0, 0, 0, 0, 4, 0, 16, 0)
    val audio = Multimodal.asMedia(Seq((9L, wav)).toDF("id", "payload"), "payload")
      .select(col("media.meta.sample_rate"), col("media.meta.n_channels"))
      .collect().head
    assert(audio.getInt(0) === 44100 && audio.getInt(1) === 2)
    val feats = Multimodal.extractFeatures(media, featureDim = 4).collect()
    def fvec(r: org.apache.spark.sql.Row): Seq[Float] = r.getSeq[Float](r.fieldIndex("features"))
    assert(feats.forall(fvec(_).length === 4))
    // Deterministic stub: same payload -> same features.
    val again = Multimodal.extractFeatures(media, featureDim = 4).collect()
    assert(feats.map(fvec).toSeq === again.map(fvec).toSeq)
    assert(feats.map(_.getAs[Int]("payload_size")).toSet === Set(11, 6))
  }

  test("multimodal: REAL WAV decode (javax.sound.sampled) — known-answer envelope, mono mix") {
    val s = spark
    import s.implicits._
    def wavPcm(samples: Array[Short], rate: Int, ch: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(36 + dataLen); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16)
      bb.putShort(1); bb.putShort(ch.toShort); bb.putInt(rate)
      bb.putInt(rate * ch * 2); bb.putShort((ch * 2).toShort); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(dataLen)
      samples.foreach(bb.putShort)
      bb.array()
    }
    // loud first half (amplitude 0.5), silent second half -> RMS envelope
    // concentrates all mass in the first two of four windows
    val loudThenSilent = Array.tabulate[Short](800)(i =>
      if (i < 400) 16384 else 0)
    val wav = wavPcm(loudThenSilent, 8000, 1)
    val samples = Multimodal.decodeWavSamples(wav)
    assert(samples.isDefined && samples.get.length === 800)
    assert(math.abs(samples.get(0) - 0.5f) < 1e-3f && samples.get(799) === 0.0f)
    val env = Multimodal.audioFeatures(samples.get, 4)
    assert(math.abs(env(0) - 0.5f) < 1e-3f && math.abs(env(1) - 0.5f) < 1e-3f)
    assert(env(2) === 0.0f && env(3) === 0.0f)
    // stereo mono-mix: L = -R cancels to silence
    val stereo = wavPcm(Array.tabulate[Short](400)(i =>
      if (i % 2 == 0) 16384 else -16384), 8000, 2)
    assert(Multimodal.decodeWavSamples(stereo).get.forall(_ === 0.0f))
    // not a WAV -> None (degrades to the stub path, never throws)
    assert(Multimodal.decodeWavSamples(Array[Byte](1, 2, 3, 4)).isEmpty)
    // end-to-end: extractFeatures takes the REAL audio path for WAV
    val df = Seq((1L, wav)).toDF("id", "payload")
    val out = Multimodal.extractFeatures(Multimodal.asMedia(df, "payload"), 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](r.fieldIndex("features"))).toMap
    assert(out(1L) === env.toSeq)
  }

  test("multimodal: compressed u-law/a-law WAVs decode for REAL (AudioSystem conversion)") {
    // genuine ULAW/ALAW containers, encoded by the JDK itself: PCM frames
    // -> AudioSystem conversion -> WAVE file bytes. decodeWavSamples'
    // "whatever PCM-convertible encoding the WAV carries" contract means
    // these are NOT stub territory — pin it.
    import javax.sound.sampled._
    def compressedWav(enc: AudioFormat.Encoding): Array[Byte] = {
      val samples = Array.tabulate[Short](800)(i => if (i < 400) 16384 else 0)
      val pcmBytes = java.nio.ByteBuffer.allocate(1600)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      samples.foreach(pcmBytes.putShort)
      val pcmFmt = new AudioFormat(8000f, 16, 1, true, false)
      val pcmAis = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcmBytes.array()), pcmFmt, 800)
      val comp = AudioSystem.getAudioInputStream(
        new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false), pcmAis)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(comp, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    for (enc <- Seq(AudioFormat.Encoding.ULAW, AudioFormat.Encoding.ALAW)) {
      val wav = compressedWav(enc)
      assert(Multimodal.wavAudio(wav) === Some((8000, 1)), s"$enc header")
      val got = Multimodal.decodeWavSamples(wav)
      assert(got.isDefined && got.get.length === 800, s"$enc length")
      // companding quantization error stays small at these amplitudes
      assert(math.abs(got.get(10) - 0.5f) < 0.05f, s"$enc loud half: ${got.get(10)}")
      assert(math.abs(got.get(700)) < 0.01f, s"$enc silent half: ${got.get(700)}")
    }
  }

  test("multimodal: renderTestTone fixture — real decode, on/off envelope, class-deterministic") {
    val tone = Multimodal.renderTestTone(3)
    // header parses like any real WAV
    assert(Multimodal.wavAudio(tone) === Some((8000, 1)))
    val env = Multimodal.audioFeatures(Multimodal.decodeWavSamples(tone).get, 8)
    // second half silent -> all envelope mass in the first 4 of 8 windows
    assert(env.drop(4).forall(_ === 0.0f) && math.abs(env.take(4).sum - 1.0f) < 1e-3f)
    // same class identical; different class differs (frequency/amplitude)
    assert(Multimodal.renderTestTone(3).toSeq === tone.toSeq)
    assert(Multimodal.renderTestTone(4).toSeq !== tone.toSeq)
  }

  test("multimodal: REAL GIF frame count (imageio stream walk) lands in media meta") {
    val s = spark
    import s.implicits._
    def frame(v: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(4, 4,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, v)
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    w.setOutput(ios)
    w.prepareWriteSequence(null)
    Seq(0x000000, 0x808080, 0xFFFFFF).foreach(v =>
      w.writeToSequence(new javax.imageio.IIOImage(frame(v), null, null), null))
    w.endWriteSequence(); w.dispose(); ios.close()
    val gif3 = bos.toByteArray
    assert(Multimodal.sniffFormat(gif3) === "gif")
    assert(Multimodal.gifFrameCount(gif3) === Some(3))
    // single-frame PNG: no frame count (static image, demuxer-free)
    val pbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(frame(0), "png", pbos)
    val df = Seq((1L, gif3), (2L, pbos.toByteArray)).toDF("id", "payload")
    val nf = Multimodal.asMedia(df, "payload")
      .select(col("id"), col("media.meta.n_frames")).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Integer](1))).toMap
    assert(nf(1L) === Some(3) && nf(2L) === None)
  }

  test("multimodal: REAL MP4 video metadata (ISO BMFF box walk) lands in media meta") {
    val s = spark
    import s.implicits._
    def box(tpe: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length); bb.put(tpe.getBytes("US-ASCII")); bb.put(body)
      bb.array()
    }
    def cat(xs: Array[Byte]*): Array[Byte] = xs.flatten.toArray
    // tkhd v0: FullBox(4) + 72 bytes of fields/matrix, then 16.16 w/h
    val tkhd = {
      val bb = java.nio.ByteBuffer.allocate(84)
      bb.position(76); bb.putInt(320 << 16); bb.putInt(240 << 16)
      box("tkhd", bb.array())
    }
    val hdlr = {
      val bb = java.nio.ByteBuffer.allocate(24)
      bb.position(8); bb.put("vide".getBytes("US-ASCII"))
      box("hdlr", bb.array())
    }
    val stsz = {
      val bb = java.nio.ByteBuffer.allocate(12)
      bb.position(8); bb.putInt(42) // sample_count
      box("stsz", bb.array())
    }
    val mp4 = cat(
      box("ftyp", "isom0000".getBytes("US-ASCII")),
      box("moov", box("trak", cat(tkhd,
        box("mdia", cat(hdlr, box("minf", box("stbl", stsz))))))))
    assert(Multimodal.sniffFormat(mp4) === "mp4")
    assert(Multimodal.mp4VideoMeta(mp4) === Some((320, 240, 42)))
    // a sound-only track is not a video answer; corrupt sizes abort clean
    val soundOnly = cat(box("ftyp", "isom0000".getBytes("US-ASCII")),
      box("moov", box("trak", cat(tkhd, box("mdia", {
        val bb = java.nio.ByteBuffer.allocate(24)
        bb.position(8); bb.put("soun".getBytes("US-ASCII"))
        box("hdlr", bb.array())
      })))))
    assert(Multimodal.mp4VideoMeta(soundOnly) === None)
    val corrupt = mp4.clone(); corrupt(0) = 0xFF.toByte // absurd top box size
    assert(Multimodal.mp4VideoMeta(corrupt) === None)
    // the in-plan fixture generator agrees with its closed form
    assert(Multimodal.mp4VideoMeta(Multimodal.renderTestClip(0)) === Some((160, 96, 24)))
    assert(Multimodal.mp4VideoMeta(Multimodal.renderTestClip(5)) === Some((160, 176, 29)))
    assert(Multimodal.mp4VideoMeta(Multimodal.renderTestClip(23)) === Some((208, 128, 47)))
    // and through the DataFrame contract
    val meta = Multimodal.asMedia(Seq((1L, mp4)).toDF("id", "payload"), "payload")
      .select(col("media.meta.format"), col("media.meta.width"),
        col("media.meta.height"), col("media.meta.n_frames")).collect()(0)
    assert(meta.getString(0) === "mp4" && meta.getInt(1) === 320
      && meta.getInt(2) === 240 && meta.getInt(3) === 42)
  }

  test("mp4 box walk survives to-EOF and 64-bit-largesize mdat layouts (non-faststart files)") {
    // Real-world non-faststart MP4s put a big mdat BEFORE moov, and that
    // mdat is where size==0 (to end of scope) and size==1 (64-bit
    // largesize) headers appear; the walk must skip over them, not abort.
    val base = Multimodal.renderTestClip(3) // [ftyp][moov], meta (160,144,27)
    val want = Multimodal.mp4VideoMeta(base)
    assert(want.isDefined)
    val ftypEnd = java.nio.ByteBuffer.wrap(base).getInt // first box size
    val (ftyp, moov) = base.splitAt(ftypEnd)
    def cat(xs: Array[Byte]*): Array[Byte] = xs.flatten.toArray
    // mdat with a 64-bit largesize header (size field == 1) before moov
    val payload = Array.fill[Byte](32)(0x5a)
    val large = {
      val bb = java.nio.ByteBuffer.allocate(16 + payload.length)
      bb.putInt(1); bb.put("mdat".getBytes("US-ASCII"))
      bb.putLong(16L + payload.length); bb.put(payload)
      bb.array()
    }
    assert(Multimodal.mp4VideoMeta(cat(ftyp, large, moov)) === want,
      "largesize mdat before moov lost the metadata")
    // mdat with size==0: legal as the LAST top-level box (extends to EOF)
    val toEof = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(0); bb.put("mdat".getBytes("US-ASCII")); bb.put(payload)
      bb.array()
    }
    assert(Multimodal.mp4VideoMeta(cat(ftyp, moov, toEof)) === want,
      "trailing to-EOF mdat broke the walk")
    // hostile: size==1 with a truncated largesize field degrades to None
    val truncated = cat(ftyp, {
      val bb = java.nio.ByteBuffer.allocate(12)
      bb.putInt(1); bb.put("mdat".getBytes("US-ASCII")); bb.putInt(0)
      bb.array()
    })
    assert(Multimodal.mp4VideoMeta(truncated) === None)
    // hostile: largesize pointing backwards degrades to None
    val backwards = cat(ftyp, {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putInt(1); bb.put("mdat".getBytes("US-ASCII")); bb.putLong(4L)
      bb.array()
    }, moov)
    assert(Multimodal.mp4VideoMeta(backwards) === None)
  }

  test("multimodal: REAL pixel decode (javax.imageio) — known-answer histograms and resize") {
    val s = spark
    import s.implicits._
    def encodePng(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // 4x4 PNG, left half black (bin 0 of 4), right half white (bin 3)
    val halves = encodePng(4, 4, (x, _) => if (x < 2) 0x000000 else 0xFFFFFF)
    val black = encodePng(4, 4, (_, _) => 0x000000)
    val img = Multimodal.decodeImage(halves)
    assert(img.isDefined && img.get.getWidth === 4)
    assert(Multimodal.imageFeatures(img.get, 4).toSeq === Seq(0.5f, 0f, 0f, 0.5f))
    assert(Multimodal.imageFeatures(Multimodal.decodeImage(black).get, 4)
      .toSeq === Seq(1f, 0f, 0f, 0f))
    // JPEG roundtrip: uniform mid-gray decodes near 128 (lossy but flat)
    val gimg = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) gimg.setRGB(x, y, 0x808080)
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(gimg, "jpg", jbos)
    // JPEG quantization may land 128 at 127 — flat image, so all mass
    // sits in ONE of the two bins straddling mid-gray
    val jfeat = Multimodal.imageFeatures(Multimodal.decodeImage(jbos.toByteArray).get, 4)
    assert(jfeat(1) + jfeat(2) > 0.9f, s"mid-gray mass not near bin 1/2: ${jfeat.toSeq}")
    // resize: 8x8 black -> 2x2, still decodable, still black
    val small = Multimodal.resizeImage(encodePng(8, 8, (_, _) => 0), 2, 2).get
    val simg = Multimodal.decodeImage(small).get
    assert(simg.getWidth === 2 && simg.getHeight === 2)
    assert(Multimodal.imageFeatures(simg, 4).toSeq === Seq(1f, 0f, 0f, 0f))
    // end-to-end: extractFeatures takes the REAL path for images (the
    // known histogram, not the payload-hash stub) and the stub path for
    // non-images, inside one DataFrame pass; resizeMedia nulls non-images
    val df = Seq((1L, halves), (2L, Array[Byte](9, 9, 9, 9))).toDF("id", "payload")
    val out = Multimodal.extractFeatures(Multimodal.asMedia(df, "payload"), 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](r.fieldIndex("features"))).toMap
    assert(out(1L) === Seq(0.5f, 0f, 0f, 0.5f))
    assert(out(2L) === Multimodal.decodeStub(Array[Byte](9, 9, 9, 9), 4).toSeq)
    val thumbs = Multimodal.resizeMedia(Multimodal.asMedia(df, "payload"), 2, 2)
      .select(col("id"), col("thumbnail")).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Array[Byte]](1))).toMap
    assert(thumbs(1L).isDefined && Multimodal.decodeImage(thumbs(1L).get).isDefined)
    assert(thumbs(2L).isEmpty)
  }

  test("simhash64 is deterministic and order-sensitive only through tokens") {
    val a = Dedup.simhash64("hello world foo bar")
    val b = Dedup.simhash64("hello world foo bar")
    val c = Dedup.simhash64("hello world foo baz")
    assert(a === b)
    assert(java.lang.Long.bitCount(a ^ c) <= 16) // one token changed -> small drift
    assert(a !== c)
  }

  test("incremental dedup: exact novelty filter and near-dup probe vs corpus") {
    val corpus = docs(1L -> loremA, 2L -> unrelated)
    val drop = docs(
      10L -> loremA,        // exact copy -> filtered by incrementalExact
      11L -> loremB,        // near-dup of corpus doc 1 -> flagged by the probe
      12L -> "entirely new content about streaming watermarks and state stores today")
    val novel = Dedup.incrementalExact(corpus, drop, Seq("text"))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(novel.toSeq === Seq(11L, 12L), "only the non-identical rows survive")
    val pairs = Dedup.incrementalNearDups(corpus, drop, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((11L, 1L)), "mutated doc must probe-hit its corpus original")
    assert(pairs.contains((10L, 1L)), "exact copy is trivially a near-dup")
    assert(!pairs.exists(_._1 == 12L), "novel doc matches nothing")
    assert(!pairs.exists(p => p._2 == 2L), "unrelated corpus doc draws no pairs")
  }

  test("profile: null-aware counts, exact distincts, stringified extremes") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(1L), Some("x")), (Some(2L), None), (Some(2L), Some("y")), (None, Some("x")))
      .toDF("k", "v")
    val out = Profile.profile(df, Seq("k", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(out("k") === ((4L, 3L, 2L, "1", "2")))
    assert(out("v") === ((4L, 3L, 2L, "x", "y")))
  }

  test("line dedup: boilerplate lines removed, order kept, all-hot doc drops out") {
    val boiler = "subscribe to our newsletter"
    val df = docs(
      1L -> s"real content one\n$boiler\nmore real text",
      2L -> s"$boiler\nsecond doc body",
      3L -> s"third doc here\n$boiler",
      4L -> boiler) // nothing but boilerplate
    val out = Dedup.lineDedup(df, "id", "text", sep = "\n", maxDf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(
      1L -> "real content one\nmore real text",
      2L -> "second doc body",
      3L -> "third doc here"))
  }

  test("line dedup: threshold is strict (df == maxDf survives)") {
    val df = docs(1L -> "a\nshared", 2L -> "b\nshared", 3L -> "c")
    val out = Dedup.lineDedup(df, "id", "text", sep = "\n", maxDf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "shared" is in exactly 2 docs = maxDf -> kept
    assert(out === Map(1L -> "a\nshared", 2L -> "b\nshared", 3L -> "c"))
  }

  test("line dedup: relative cap equals the matching absolute cap, and is replication-invariant") {
    val base = Seq(
      1L -> "hot one\nunique a", 2L -> "hot one\nunique b",
      3L -> "hot one\nunique c", 4L -> "rare pair\nunique d",
      5L -> "rare pair\nunique e")
    val df = docs(base: _*)
    def m(out: org.apache.spark.sql.DataFrame): Map[Long, String] =
      out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // frac 0.5 over 5 docs = cut at 2.5: "hot one" (df 3) removed,
    // "rare pair" (df 2) kept — same as absolute maxDf = 2
    val rel = m(Dedup.lineDedup(df, "id", "text", sep = "\n", maxDfFrac = 0.5))
    val abs = m(Dedup.lineDedup(df, "id", "text", sep = "\n", maxDf = 2))
    assert(rel === abs)
    // replicate the corpus 3x with distinct ids: every df triples but so
    // does the doc count, so the RELATIVE verdicts are unchanged — the
    // invariance the absolute cap lacks (at 10x every common line crosses
    // a fixed cap and whole docs vanish; caught by the sf1 organic audit)
    val rep = docs((0 until 3).flatMap(r =>
      base.map { case (id, tx) => (id + 10L * r) -> tx }): _*)
    val relRep = m(Dedup.lineDedup(rep, "id", "text", sep = "\n", maxDfFrac = 0.5))
    assert(relRep.size === 15 &&
      relRep.forall { case (id, tx) => rel(((id - 1) % 10) + 1) === tx })
  }

  test("line dedup: DEFAULT is the corpus-relative cut (replication-invariant), absolute is opt-in") {
    // 4 docs, "hot" in 3 of them (75% > default frac 0.5) -> removed;
    // "pair" in 2 (50%, not strictly above) -> kept
    val base = Seq(1L -> "hot\na", 2L -> "hot\nb", 3L -> "hot\npair", 4L -> "pair\nc")
    def m(out: org.apache.spark.sql.DataFrame): Map[Long, String] =
      out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rel = m(Dedup.lineDedup(docs(base: _*), "id", "text"))
    assert(rel === Map(1L -> "a", 2L -> "b", 3L -> "pair", 4L -> "pair\nc"))
    // defaults survive 5x replication unchanged — the property the old
    // absolute default (maxDf = 10) violated at scale
    val rep = docs((0 until 5).flatMap(r =>
      base.map { case (id, tx) => (id + 10L * r) -> tx }): _*)
    val repOut = m(Dedup.lineDedup(rep, "id", "text"))
    assert(repOut.size === 20 &&
      repOut.forall { case (id, tx) => rel(((id - 1) % 10) + 1) === tx })
    // explicit maxDf still means the absolute cut: maxDf = 3 keeps "hot"
    // in the base corpus (df 3 is not > 3)
    val abs = m(Dedup.lineDedup(docs(base: _*), "id", "text", maxDf = 3))
    assert(abs === base.toMap.map { case (k, v) => k -> v })
  }

  test("null text survives simhash, fingerprints, and token counts") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "real text here"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    // simhashNearDups: must not NPE; the null doc just can't pair
    assert(Dedup.simhashNearDups(df, "id", "text").count() === 0)
    val fp = TextAnalysis.fingerprints(df, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.get(2))).toMap
    assert(fp(2L) === ((null, null)), "null-in -> null-out for both hashes")
    assert(fp(1L)._1 != null && fp(1L)._2 != null)
    val counts = df.select(col("id"),
        TextAnalysis.tokenCount(col("text")).as("t"),
        TextAnalysis.wsTokenCount(col("text")).as("w"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(counts(2L) === ((0, 0)), "null counts zero, not -1")
    assert(counts(1L) === ((3, 3)))
  }

  test("compressRatio: repetitive text compresses far below varied text; deterministic") {
    val s = spark
    import s.implicits._
    val boiler = ("buy now click here " * 200).trim
    val varied = (1 to 200).map(i => s"word$i item${i * 7 % 113} x${i * i}").mkString(" ")
    val df = Seq((1L, boiler), (2L, varied), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.compressRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) < 0.1, s"boilerplate should compress hard, got ${out(1L)}")
    assert(out(2L) > out(1L) * 3, "varied text must compress far less")
    assert(out(3L) === 1.0 && out(4L) === 1.0, "empty/null -> 1.0 by convention")
    val again = df.select(TextAnalysis.compressRatio(col("text")))
      .collect().map(_.getDouble(0)).toSeq
    assert(again === Seq(out(1L), out(2L), out(3L), out(4L)), "deterministic")
  }

  test("autoLshGeometry: bucket bits scale with corpus size, bands with threshold; capped") {
    // small corpus -> minimum bits; the measured 20K regime -> >= 6 bits
    // (the old fixed 4-bit default is exactly the measured foot-gun)
    assert(Similarity.autoLshGeometry(1000, 0.95)._1 /
      Similarity.autoLshGeometry(1000, 0.95)._2 === 4)
    val (p20k, b20k) = Similarity.autoLshGeometry(20000, 0.95)
    assert(p20k / b20k >= 6, s"20K corpus must get >6-bit bands, got ${p20k / b20k}")
    // a billion-vector corpus stays inside both caps (cost degrades
    // gracefully, never explodes)
    val (pB, bB) = Similarity.autoLshGeometry(1000000000L, 0.95)
    assert(pB / bB <= 24 && bB <= 32)
    // looser threshold -> more bands to hold recall
    assert(Similarity.autoLshGeometry(20000, 0.5)._2 >
      Similarity.autoLshGeometry(20000, 0.95)._2)
  }

  test("dense corpus: auto geometry bounds the candidate volume the old 16x4 default exploded") {
    // the r10 measured failure shape, scaled to spec runtime: a clustered
    // corpus whose 4-bit buckets concentrate into quadratic-death sizes
    val n = 20000
    val corpus = graft.tools.EmbedSynth.corpus(spark, n, 16, nClusters = 6, noise = 0.3)
    def pairBound(planes: Int, bands: Int): Long =
      Similarity.hyperplaneBuckets(corpus, "vec_id", "e", 16, planes, bands)
        .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * (col("n") - 1)).cast("long")).collect()(0).getLong(0)
    val oldDefault = pairBound(16, 4)
    val (p, b) = Similarity.autoLshGeometry(n, 0.95)
    val auto = pairBound(p, b)
    // the candidate self-join is quadratic in the bucket: per band of
    // work, the old 4-bit default's pair volume must dwarf the auto
    // geometry's (auto buys recall with MORE bands of BOUNDED buckets;
    // the old default's few huge buckets are what exploded at r10)
    assert((auto / b) * 2 < oldDefault / 4,
      s"auto geometry ${p}x$b per-band pair bound ${auto / b} not << old default's ${oldDefault / 4}")
    // and the default-geometry operator completes on the dense corpus,
    // still finding a planted identical copy (id collides in every band)
    val copy = corpus.filter(col("vec_id") === 7).select(lit(1000000L).as("vec_id"), col("e"))
    val got = Dedup.embeddingNearDups(corpus.unionByName(copy), "vec_id", "e", dim = 16,
        cosineThreshold = 0.95)
      .filter(col("id_a") === 7 && col("id_b") === 1000000L).collect()
    assert(got.length === 1 && got(0).getDouble(2) === 1.0)
  }

  test("knownCount skips the auto-geometry count action without changing the answer") {
    // auto geometry's eager df.count() re-executes an un-cached upstream
    // pipeline; passing the size when the caller already knows it must
    // yield the identical geometry, hence identical pairs — and must not
    // trigger any job over the corpus plan before the real work
    val s = spark
    import s.implicits._
    val base = (0 until 400).map { i =>
      val r = new scala.util.Random(i % 40) // 40 planted classes of 10 copies
      (i.toLong, Seq.fill(16)(r.nextGaussian()))
    }
    val corpus = base.toDF("vec_id", "e")
    def pairs(df: org.apache.spark.sql.DataFrame, kc: Long) =
      Dedup.embeddingNearDups(df, "vec_id", "e", dim = 16,
        cosineThreshold = 0.95, knownCount = kc)
        .collect().map(_.toString).sorted.toSeq
    assert(pairs(corpus, 400L) === pairs(corpus, 0L))
    // proof the count action is skipped: a corpus whose plan THROWS on
    // execution still plans fine with knownCount (the failure would come
    // from the eager count, before any result action). The source must
    // be file-backed: over a LocalRelation the optimizer itself evaluates
    // deterministic filters at plan time, which would poison both paths.
    val pdir = java.nio.file.Files.createTempDirectory("poison").toString
    corpus.write.mode("overwrite").parquet(pdir)
    val poisoned = spark.read.parquet(pdir).filter(udf { (_: Long) =>
      sys.error("corpus plan executed during geometry derivation")
      true
    }.apply(col("vec_id")))
    // default path counts eagerly -> blows up here
    assertThrows[Exception] {
      Dedup.embeddingNearDups(poisoned, "vec_id", "e", dim = 16, cosineThreshold = 0.95)
    }
    // knownCount path defers every action to the caller
    Dedup.embeddingNearDups(poisoned, "vec_id", "e", dim = 16,
      cosineThreshold = 0.95, knownCount = 400L) // no action -> no throw
  }

  test("rankTopK null contract: null-cosine candidates never rank, both paths agree") {
    // A null corpus embedding makes cosine null (null propagates through
    // dot/norm/divide in every ANSI mode — unlike a ZERO-norm vector,
    // whose divide-by-zero THROWS under Spark 4's default ANSI). The
    // heap aggregate drops null scores by construction; rankTopK pins
    // the same contract on the window path so the two dispatch arms stay
    // answer-identical (r13 advisory: a frame with < k non-null
    // candidates used to return MORE rows through the window than
    // through the heap).
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (10L, Array(1.0, 0.0)), (11L, Array(0.9, 0.1)),
      (12L, null.asInstanceOf[Array[Double]]), // null vector: cosine null
      (13L, Array(0.5, 0.5))).toDF("vec_id", "e")
    val queries = Seq((1L, Array(1.0, 0.0))).toDF("vec_id", "e")
    val got = Similarity.bruteForceTopK(queries, "vec_id", "e",
      corpus, "vec_id", "e", k = 4)
      .collect().map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2)
    assert(got.map(_._1).toSet === Set(10L, 11L, 13L),
      s"null-vector corpus_id 12 must not rank: ${got.toSeq}")
    assert(got.length === 3, "3 rankable candidates, not k=4 padded")
    // window path (non-long ids) returns the same answer
    val gotWin = Similarity.bruteForceTopK(
      queries.select(col("vec_id").cast("string").as("vec_id"), col("e")), "vec_id", "e",
      corpus.select(col("vec_id").cast("string").as("vec_id"), col("e")), "vec_id", "e",
      k = 4)
      .collect().map(r => (r.getString(1), r.getInt(3))).sortBy(_._2)
    assert(gotWin.map(_._1).toSeq === got.map(x => x._1.toString).toSeq)
  }
}
