package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.xlsx.CellValue

/** Every input the benchmark feeds the program, made from the seed alone,
  * so the benchmark reads nothing outside its checkout. The generators
  * are fitted to the repository's sf0.1 test tables, whose figures
  * `perfbench/profile_testdata.py` prints: lineitem's 11 typed columns and
  * value ranges, the documents corpus (a 30-word vocabulary drawn
  * uniformly, 10 to 100 words a document, 5 % near copies that append the
  * token "dup" to another document), 64-dim unit embeddings, and the
  * reference's 30-column int/float/string/bool rows. */
object Inputs {

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** `rows` lineitem-like rows in `parts` partitions. Each value is a hash
    * of (seed, row, column), so a seed fixes the table. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame = {
    def h(c: Int, m: Long) = pmod(xxhash64(lit(seed), col("id"), lit(c)), lit(m))
    spark.range(0L, rows, 1L, parts).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      h(1, 20000L).as("l_partkey"),
      h(2, 1000L).as("l_suppkey"),
      (h(10, 7L) + 1).cast("int").as("l_linenumber"),
      (h(3, 50L) + 1).cast("double").as("l_quantity"),
      ((h(4, 10410000L) + 90000L) / 100.0).as("l_extendedprice"),
      (h(5, 11L) / 100.0).as("l_discount"),
      (h(6, 9L) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(7, 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (h(8, 2L) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(788313600L) + h(9, 2499L) * 86400L).as("l_shipdate"))
  }

  /** Order-free checksum of a lineitem-shaped frame: the row count and,
    * per column, the sum of a 32-bit hash of each value. */
  def checksum(df: DataFrame): Seq[Long] = {
    val row = df.agg(count(lit(1)).as("n"),
      lineitemSchema.fieldNames.map(c => sum(hash(col(c)).cast("long")).as(c)).toSeq: _*)
      .collect()(0)
    (0 until row.length).map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
  }

  /** The reference's 30-column row: 10 ints, 8 floats, 8 strings, 4 bools. */
  def referenceRows(seed: Long, rows: Int): Array[Array[CellValue]] = {
    val rng = new java.util.SplittableRandom(seed * 31 + 7)
    Array.fill(rows) {
      val r = new Array[CellValue](30)
      var c = 0
      while (c < 30) {
        r(c) =
          if (c < 10) CellValue.IntVal(rng.nextLong(1000000L))
          else if (c < 18) CellValue.FloatVal(rng.nextInt(10000000) / 100.0)
          else if (c < 26) CellValue.Str(Words(rng.nextInt(Words.length)) + "_" + rng.nextInt(100000))
          else CellValue.BoolVal(rng.nextBoolean())
        c += 1
      }
      r
    }
  }

  /** The sf0.1 documents' vocabulary: 30 words, each about 1/30 of all
    * tokens, plus "dup", which only near copies carry. */
  val Words: Array[String] = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg key " +
    "query a scan batch").split(" ")
  val NearCopyToken = "dup"

  private def word(rng: java.util.SplittableRandom): String = Words(rng.nextInt(Words.length))

  /** `n` documents of 10 to 100 words, ids 0 until n. */
  def documents(seed: Long, n: Int): Array[(Long, String)] = {
    val rng = new java.util.SplittableRandom(seed * 131 + 3)
    Array.tabulate(n) { i =>
      val len = 10 + rng.nextInt(91)
      (i.toLong, Array.fill(len)(word(rng)).mkString(" "))
    }
  }

  /** The near-dup corpus: `base` documents, then `exact` verbatim copies
    * and `near` copies that append " dup" (as the sf0.1 table's near
    * copies do), each copy of a distinct seeded base document. Returns
    * the corpus and the planted exact (original, copy) pairs. */
  def dedupCorpus(seed: Long, base: Int, exact: Int, near: Int)
      : (Array[(Long, String)], Seq[(Long, Long)]) = {
    val docs = documents(seed, base)
    val picks = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((0 until base).toVector).take(exact + near)
    val exactPairs = picks.take(exact).zipWithIndex.map { case (src, i) =>
      (src.toLong, base.toLong + i) }
    val exactDocs = exactPairs.map { case (src, id) => (id, docs(src.toInt)._2) }
    val nearDocs = picks.drop(exact).zipWithIndex.map { case (src, i) =>
      (base.toLong + exact + i, docs(src)._2 + " " + NearCopyToken)
    }
    (docs ++ exactDocs ++ nearDocs, exactPairs)
  }

  /** `n` unit 64-dim vectors around `clusters` seeded centres. The sf0.1
    * embeddings are unit vectors under 10 labels but show no cluster
    * structure; these are clustered so that a probe of `nprobe < nlist`
    * lists finds the true neighbours while it reads fewer lists. */
  def vectors(seed: Long, n: Int, firstId: Long, clusters: Int = Clusters,
      dim: Int = 64): Array[(Long, Array[Double])] = {
    val centres = centresFor(seed, clusters, dim)
    val rng = new java.util.SplittableRandom(seed * 7919 + firstId)
    Array.tabulate(n) { i =>
      val c = centres(rng.nextInt(clusters))
      (firstId + i, unit(Array.tabulate(dim)(d => c(d) + 0.35 * gaussian(rng))))
    }
  }

  val Clusters = 10

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  def centresFor(seed: Long, clusters: Int, dim: Int): Array[Array[Double]] = {
    val rng = new java.util.SplittableRandom(seed * 104729 + 1)
    Array.fill(clusters)(Array.fill(dim)(gaussian(rng)))
  }

  def gaussian(rng: java.util.SplittableRandom): Double = {
    // Box-Muller; one of the pair is enough here
    val u = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  /** A query of two or three distinct terms. */
  def terms(rng: java.util.SplittableRandom): Seq[String] =
    Seq.fill(3)(word(rng)).distinct.take(2 + rng.nextInt(2))
}
