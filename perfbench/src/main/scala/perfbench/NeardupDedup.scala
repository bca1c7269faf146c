package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.operators.Dedup

/** Near-duplicate removal over a documents corpus with planted copies:
  * exact-set survivors (3-shingle pairs at Jaccard 1.0, then connected
  * components) and MinHash near-dup pairs at the defaults. A chain of
  * shuffle stages with no xlsx codec in it. */
final class NeardupDedup(ctx: Ctx, scale: Scale) extends Workload {
  val name = "neardup_dedup"
  private val spark = ctx.spark
  private var docs: Array[(Long, String)] = Array.empty
  private var planted: Seq[(Long, Long)] = Nil
  private var corpus: DataFrame = _
  private var lastSurvivors = Set.empty[Long]
  private var lastMinhash = Set.empty[(Long, Long)]

  def setup(): Unit = {
    if (corpus != null) corpus.unpersist(blocking = true)
    val (d, p) = Inputs.dedupCorpus(ctx.seed, scale.dedupDocs, scale.dedupExact, scale.dedupNear)
    docs = d
    planted = p
    import spark.implicits._
    corpus = spark.createDataset(d.toSeq).toDF("id", "text")
      .repartition(ctx.nproc).persist(StorageLevel.MEMORY_ONLY)
    corpus.count()
  }

  /** The answer by a different route: group documents by their distinct
    * word-3-shingle set on the driver and keep the least id of each
    * group; a document with no shingle is its own group. */
  private lazy val expectedSurvivors: Set[Long] =
    docs.groupBy { case (id, text) =>
      val w = text.split("\\s+", -1)
      if (w.length < 3) Left(id)
      else Right(w.sliding(3).map(_.mkString(" ")).toSet)
    }.values.map(_.map(_._1).min).toSet

  def cycle(): Unit = {
    val survivors = ctx.step("survivors") {
      val pairs = Dedup.ngramJaccardPairs(corpus, "id", "text", k = 3, threshold = 1.0)
      Dedup.keepOnePerComponent(corpus, "id", pairs).select(col("id"))
        .collect().map(_.getLong(0)).toSet
    }
    Dedup.unpersistAll(spark)
    ctx.check("survivors: equal one survivor per distinct shingle set")(
      survivors.contains(expectedSurvivors))
    survivors.foreach(lastSurvivors = _)

    val pairs = ctx.step("minhash") {
      Dedup.minhashNearDups(corpus, "id", "text").select(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    Dedup.unpersistAll(spark)
    ctx.check("minhash: every planted exact pair is emitted")(pairs.exists(ps =>
      planted.forall { case (a, b) => ps.contains((math.min(a, b), math.max(a, b))) }))
    pairs.foreach(lastMinhash = _)
  }

  def finalChecks(): Unit = ()

  def readSteps: Seq[String] = Seq("survivors", "minhash")
  def writeSteps: Seq[String] = Nil

  /** Output counts for the stage layer, taken outside any timed call and
    * only by the traced run that reports them. */
  private lazy val counts: Map[String, Double] = {
    val pairs = ctx.span("count", "survivors_pairs") {
      Dedup.ngramJaccardPairs(corpus, "id", "text", k = 3, threshold = 1.0).count().toDouble
    }
    Dedup.unpersistAll(spark)
    Map("survivors.pairs" -> pairs, "survivors.survivors" -> lastSurvivors.size.toDouble,
      "minhash.pairs" -> lastMinhash.size.toDouble,
      "minhash.survivors" -> (docs.length - NeardupDedup.nonMinimal(lastMinhash)).toDouble)
  }

  def results(): Seq[(String, Metric)] = Seq(
    "dedup_survivors_s" -> Metric(Stats.median(ctx.samples("survivors")) / 1e3, "s"),
    "dedup_minhash_s" -> Metric(Stats.median(ctx.samples("minhash")) / 1e3, "s"))

  def layers(): Seq[(String, Metric)] = Seq("survivors", "minhash").flatMap { op =>
    val calls = ctx.tracer.traced(op)
    def per(f: ((Span, Seq[JobRec], Seq[StageRec])) => Double) = Stats.median(calls.map(f))
    def mb(f: StageRec => Long) = per(_._3.map(f).sum / 1048576.0)
    val p = s"stage.$op"
    Seq(
      s"$p.jobs" -> Metric(per(_._2.size.toDouble), "count"),
      s"$p.stages" -> Metric(per(_._3.size.toDouble), "count"),
      s"$p.tasks" -> Metric(per(_._3.map(_.tasks).sum.toDouble), "count"),
      s"$p.shuffle_write_mb" -> Metric(mb(_.shuffleWriteBytes), "MB"),
      s"$p.shuffle_read_mb" -> Metric(mb(_.shuffleReadBytes), "MB"),
      s"$p.spill_mb" -> Metric(mb(_.spillBytes), "MB"),
      s"$p.executor_run_s" -> Metric(per(_._3.map(_.runMs).sum / 1e3), "s"),
      s"$p.executor_cpu_s" -> Metric(per(_._3.map(_.cpuNs).sum / 1e9), "s"),
      s"$p.gc_s" -> Metric(per(_._3.map(_.gcMs).sum / 1e3), "s"),
      s"$p.core_utilisation" -> Metric(per(c =>
        Stats.safeDiv(c._3.map(_.runMs).sum.toDouble, c._1.ms * ctx.nproc)), "ratio"),
      s"$p.driver_gap_s" -> Metric(per { c =>
        val lo = ctx.tracer.epochMs(c._1.t0); val hi = ctx.tracer.epochMs(c._1.t1)
        val iv = c._3.filter(_.completed > 0).map(s => (s.submitted.toDouble, s.completed.toDouble))
        (hi - lo - Intervals.covered(iv, lo, hi)) / 1e3
      }, "s"),
      s"$p.pairs" -> Metric(counts.getOrElse(s"$op.pairs", 0.0), "count"),
      s"$p.survivors" -> Metric(counts.getOrElse(s"$op.survivors", 0.0), "count"))
  }

  def inputs: Seq[(String, Long, Long)] =
    Seq(("dedup_corpus", docs.length.toLong, docs.iterator.map(_._2.length.toLong).sum))

  def close(): Unit = if (corpus != null) corpus.unpersist(blocking = true)
}

object NeardupDedup {
  /** How many ids are not the least member of their connected group. */
  def nonMinimal(pairs: Set[(Long, Long)]): Int = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    val ids = pairs.flatMap { case (a, b) => Seq(a, b) }
    ids.count(i => find(i) != i)
  }
}
