package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.connectedComponents]] and [[Dedup.keepOnePerComponent]] against a
  * driver-side union-find on generated pair lists over at most 60 nodes:
  * long chains in shuffled id order, cliques, duplicate and reversed
  * pairs, self-pairs and isolated pairs. Each case runs both lineage cuts
  * (`localCheckpoint` and a `checkpointDir`), and `keepOnePerComponent`
  * runs both its driver path and its loop, with Long and String ids.
  * Seeded — reruns are deterministic, and a failure names its seed. */
class ConnectedComponentsPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val BaseSeed = 20261019L
  private val Cases = 4
  private val MaxNodes = 60

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("connected-components-property-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Node k's id: spaced and offset so that ids are not row positions. */
  private def node(k: Int): Long = 1000L + 7L * k

  private val nodeIdx: Gen[Int] = Gen.choose(0, MaxNodes - 1)

  private val chain: Gen[Seq[(Long, Long)]] = for {
    len <- Gen.choose(2, MaxNodes)
    order <- Gen.long.map(s => new scala.util.Random(s).shuffle((0 until MaxNodes).toVector))
  } yield order.take(len).map(node).sliding(2).map(p => (p(0), p(1))).toSeq

  private val clique: Gen[Seq[(Long, Long)]] = for {
    size <- Gen.choose(2, 8)
    members <- Gen.listOfN(size, nodeIdx).map(_.distinct.map(node))
  } yield for (a <- members; b <- members if a < b) yield (a, b)

  private val pair: Gen[Seq[(Long, Long)]] =
    for (a <- nodeIdx; b <- nodeIdx) yield Seq((node(a), node(b)))

  private val selfPair: Gen[Seq[(Long, Long)]] = nodeIdx.map(a => Seq((node(a), node(a))))

  /** A few pieces, then duplicates and reversals of some of their pairs. */
  private val pairs: Gen[Seq[(Long, Long)]] = for {
    nPieces <- Gen.choose(2, 8)
    pieces <- Gen.listOfN(nPieces, Gen.frequency(
      2 -> chain, 2 -> clique, 3 -> pair, 1 -> selfPair))
    base = pieces.flatten
    extra <- if (base.isEmpty) Gen.const(Nil) else Gen.listOfN(4, Gen.oneOf(base)
      .flatMap(e => Gen.oneOf(Seq(e), Seq(e.swap), Seq(e, e.swap))))
    order <- Gen.long
  } yield new scala.util.Random(order).shuffle(base ++ extra.flatten)

  /** Minimum id of each node's component, for every node in a pair. */
  private def unionFind[T](ps: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- ps) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** A String id for node id `x` whose order is not the numeric order. */
  private def stringId(x: Long): String = s"${x * 7919 % 1009}-$x"

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    val tree = java.nio.file.Files.walk(dir)
    try tree.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
    finally tree.close()
  }

  private def forEachCase(body: (Long, Seq[(Long, Long)]) => Unit): Unit =
    (0 until Cases).foreach { i =>
      val seed = BaseSeed + i
      val ps = pairs.apply(Gen.Parameters.default, Seed(seed)).get
      withClue(s"seed $seed, pairs ${ps.mkString(" ")}: ")(body(seed, ps))
    }

  test("connectedComponents equals a union-find under both lineage cuts") {
    val s = spark
    import s.implicits._
    forEachCase { (seed, ps) =>
      val expected = unionFind(ps)
      val dir = java.nio.file.Files.createTempDirectory(s"cc-prop-$seed").toString
      for (cut <- Seq(None, Some(dir))) {
        val got = Dedup.connectedComponents(ps.toDF("id_a", "id_b"), checkpointDir = cut)
          .collect().map(r => r.getLong(0) -> r.getLong(1))
        withClue(s"checkpointDir $cut: ") {
          assert(got.length === expected.size, "one row per node")
          assert(got.toMap === expected)
        }
      }
      Dedup.unpersistAll(spark)
      val tree = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try tree.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally tree.close()
    }
  }

  test("keepOnePerComponent keeps the union-find survivors") {
    val s = spark
    import s.implicits._
    val corpus = (0 until MaxNodes + 5).map(k => node(k))
    forEachCase { (_, ps) =>
      val dropped = unionFind(ps).collect { case (id, c) if id != c => id }.toSet
      val kept = Dedup.keepOnePerComponent(corpus.toDF("id"), "id", ps.toDF("id_a", "id_b"))
        .collect().map(_.getLong(0))
      Dedup.unpersistAll(spark)
      assert(kept.sorted.toSeq === corpus.filterNot(dropped))
    }
  }

  test("keepOnePerComponent: cap and cap + 1 pairs take the driver path and the loop, same survivors") {
    val s = spark
    import s.implicits._
    val corpus = (0 until MaxNodes + 5).map(k => node(k))
    forEachCase { (seed, ps) =>
      val dropped = unionFind(ps).collect { case (id, c) if id != c => id }.toSet
      for ((cap, loop) <- Seq(ps.size.toLong -> false, ps.size - 1L -> true)) {
        val dir = java.nio.file.Files.createTempDirectory(s"cc-keep-$seed")
        try {
          val kept = Dedup.keepOnePerComponent(corpus.toDF("id"), "id", ps.toDF("id_a", "id_b"),
            Some(dir.toString), cap).collect().map(_.getLong(0))
          Dedup.unpersistAll(spark)
          withClue(s"cap $cap: ") {
            assert(kept.sorted.toSeq === corpus.filterNot(dropped))
            // only the loop writes round tables under checkpointDir
            assert(dir.toFile.list().exists(_.startsWith("graft_cc_")) === loop)
          }
        } finally deleteTree(dir)
      }
    }
  }

  test("keepOnePerComponent keeps the least String id of each component on both paths") {
    val s = spark
    import s.implicits._
    val corpus = (0 until MaxNodes + 5).map(k => stringId(node(k)))
    forEachCase { (_, ps) =>
      val sps = ps.map { case (a, b) => (stringId(a), stringId(b)) }
      val dropped = unionFind(sps).collect { case (id, c) if id != c => id }.toSet
      for (cap <- Seq(sps.size.toLong, 0L)) {
        val kept = Dedup.keepOnePerComponent(corpus.toDF("id"), "id", sps.toDF("id_a", "id_b"),
          None, cap).collect().map(_.getString(0))
        Dedup.unpersistAll(spark)
        withClue(s"cap $cap: ")(assert(kept.sorted.toSeq === corpus.filterNot(dropped).sorted))
      }
    }
  }
}
