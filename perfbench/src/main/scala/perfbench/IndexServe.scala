package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{Curation, Pq, Similarity}

/** Top-k serving from the three persisted index families. One client in
  * a closed loop sends single queries round-robin to the IVF, IVFPQ and
  * BM25 probes; after every three queries (one a family) it appends one
  * batch to and deletes a few ids from each index. */
final class IndexServe(ctx: Ctx, scale: Scale) extends Workload {
  import IndexServe._
  val name = "index_serve"
  private val spark = ctx.spark
  import spark.implicits._
  private val root = Paths.get(ctx.path(s"$name-${scale.name}"))
  private val paths = Families.map(f => f -> root.resolve(f).toString).toMap

  private val vecLive = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private val docLive = mutable.LinkedHashMap.empty[Long, String]
  private val deletedVecs = mutable.LinkedHashMap.empty[Long, Array[Double]]
  private val deletedDocs = mutable.LinkedHashMap.empty[Long, String]
  private var nextVec = 0L
  private var nextDoc = 0L
  private var round = 0
  private var cycles = 0
  private val rng = new java.util.SplittableRandom(ctx.seed * 977 + 5)
  private lazy val centres = Inputs.centresFor(ctx.seed, Inputs.Clusters, Dim)
  private val files = mutable.Map.empty[String, Double]

  def setup(): Unit = {
    Families.foreach(f => deleteTree(paths(f)))
    vecLive.clear(); docLive.clear(); deletedVecs.clear(); deletedDocs.clear(); round = 0
    val vecs = Inputs.vectors(ctx.seed, scale.vectors, 0L)
    val docs = Inputs.documents(ctx.seed, scale.indexDocs)
    vecs.foreach { case (id, v) => vecLive(id) = v }
    docs.foreach { case (id, t) => docLive(id) = t }
    nextVec = vecs.length; nextDoc = docs.length
    val vdf = vecFrame(vecs.toSeq)
    ctx.step("ivf_build")(Similarity.writeIvfIndex(vdf, "id", "v", paths("ivf"), nlist = NList))
    ctx.step("pq_build")(Pq.writePqIndex(vdf, "id", "v", paths("pq"), nlist = NList))
    ctx.step("bm25_build")(Curation.writeBm25Index(docFrame(docs.toSeq), "id", "text",
      paths("bm25"), buckets = 16))
  }

  private def vecFrame(v: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataset(v).toDF("id", "v")
  private def docFrame(d: Seq[(Long, String)]): DataFrame =
    spark.createDataset(d).toDF("id", "text")

  private def queryVec(): Array[Double] = {
    val c = centres(rng.nextInt(centres.length))
    Inputs.unit(Array.tabulate(Dim)(d => c(d) + 0.35 * Inputs.gaussian(rng)))
  }

  private def ids(rows: Array[Row], c: String): Seq[Long] = rows.toSeq.map(r => r.getAs[Long](c))

  /** One query per family, then one maintenance round. */
  def cycle(): Unit = {
    val ivfQ = vecFrame(Seq((-1L - cycles, queryVec())))
    val ivf = ctx.step("ivf_query") {
      Similarity.ivfTopKIndexed(ivfQ, "id", "v", paths("ivf"), k = K, nprobe = NProbe).collect()
    }
    ctx.check("ivf_query: answers k live ids")(ivf.exists(rs =>
      rs.length == K && ids(rs, "corpus_id").forall(vecLive.contains)))
    val pqQ = vecFrame(Seq((-1L - cycles, queryVec())))
    val pq = ctx.step("pq_query") {
      Pq.pqTopKIndexed(pqQ, "id", "v", paths("pq"), k = K, nprobe = NProbe).collect()
    }
    ctx.check("pq_query: answers k live ids")(pq.exists(rs =>
      rs.length == K && ids(rs, "corpus_id").forall(vecLive.contains)))
    val terms = Inputs.terms(rng)
    val bm = ctx.step("bm25_query") {
      Curation.bm25SearchIndexed(spark, paths("bm25"), terms, topK = K).collect()
    }
    ctx.check("bm25_query: answers only live ids")(bm.exists(rs =>
      rs.nonEmpty && ids(rs, "id").forall(docLive.contains)))
    cycles += 1
    maintain()
  }

  /** One maintenance batch: new vectors and documents under fresh ids,
    * and live ids to delete. `commit` applies it to the live sets. */
  private final class Batch(val vecs: DataFrame, val gone: DataFrame, val docs: DataFrame,
      val goneDocs: DataFrame, val commit: () => Unit)

  private def nextBatch(): Batch = {
    round += 1
    val batch = Inputs.vectors(ctx.seed, scale.batchRows, nextVec)
    nextVec += batch.length
    val gone = pick(vecLive.keys.toSeq)
    val newDocs = Inputs.documents(ctx.seed + round, scale.batchRows)
      .map { case (i, t) => (nextDoc + i, t) }
    nextDoc += newDocs.length
    val goneDocs = pick(docLive.keys.toSeq)
    new Batch(vecFrame(batch.toSeq), gone.toDF("id"), docFrame(newDocs.toSeq), goneDocs.toDF("id"),
      () => {
        batch.foreach { case (id, v) => vecLive(id) = v }
        gone.foreach(id => vecLive.remove(id).foreach(deletedVecs(id) = _))
        newDocs.foreach { case (id, t) => docLive(id) = t }
        goneDocs.foreach(id => docLive.remove(id).foreach(deletedDocs(id) = _))
      })
  }

  /** One append and one delete per family. The vector families take the
    * same batch and the same deletions, so one live set describes both. */
  private def maintain(): Unit = {
    val m = nextBatch()
    ctx.step("ivf_append")(Similarity.appendIvfIndex(m.vecs, "id", "v", paths("ivf")))
    ctx.step("ivf_delete")(Similarity.deleteFromIvfIndex(m.gone, paths("ivf")))
    ctx.step("pq_append")(Pq.appendPqIndex(m.vecs, "id", "v", paths("pq")))
    ctx.step("pq_delete")(Pq.deleteFromPqIndex(m.gone, paths("pq")))
    ctx.step("bm25_append")(Curation.appendBm25Index(m.docs, "id", "text", paths("bm25")))
    ctx.step("bm25_delete")(Curation.deleteFromBm25Index(m.goneDocs, paths("bm25")))
    m.commit()
  }

  def readSteps: Seq[String] = Families.map(f => s"${f}_query")
  def writeSteps: Seq[String] = Families.flatMap(f => Seq(s"${f}_append", s"${f}_delete"))

  private def pick(live: Seq[Long]): Seq[Long] =
    Seq.fill(DeletesPerRound)(live(rng.nextInt(live.length))).distinct

  /** Exhaustive probes (nprobe = nlist, and for IVFPQ a shortlist as
    * large as the corpus) must equal brute force over the live vectors
    * and the unindexed BM25 over the live documents. One sampled query
    * per family is a deleted item's own vector or words, so a tombstone
    * that leaks shows up as a mismatch. */
  def finalChecks(): Unit = {
    val deleted = deletedVecs.headOption.map(_._2).getOrElse(queryVec())
    val qs = vecFrame(Seq((-100L, queryVec()), (-101L, deleted)))
    val live = vecFrame(vecLive.toSeq)
    val terms = deletedDocs.headOption.map(_._2.split(" ").take(3).toSeq.distinct)
      .getOrElse(Inputs.terms(rng))
    val Seq(truth, ivf, pq, unindexed, indexed) = ctx.par(Seq(
      () => vtop(Similarity.bruteForceTopK(qs, "id", "v", live, "id", "v", K)),
      () => vtop(Similarity.ivfTopKIndexed(qs, "id", "v", paths("ivf"), k = K, nprobe = NList)),
      () => vtop(Pq.pqTopKIndexed(qs, "id", "v", paths("pq"), k = K, nprobe = NList,
        refine = vecLive.size / K + 1)),
      () => top(Curation.bm25Search(docFrame(docLive.toSeq), "id", "text", terms, topK = K)
        .select(lit(0L), col("id"), col("score"))),
      () => top(Curation.bm25SearchIndexed(spark, paths("bm25"), terms, topK = K)
        .select(lit(0L), col("id"), col("score")))))
    def same(a: scala.util.Try[TopKs], b: scala.util.Try[TopKs]) = sameTopKs(a.get, b.get)
    ctx.check("ivf at nprobe = nlist equals brute force over the live vectors")(same(truth, ivf))
    ctx.check("pq at nprobe = nlist, full shortlist, equals brute force over the live vectors")(
      same(truth, pq))
    ctx.check("bm25 indexed equals unindexed bm25Search over the live documents")(
      same(unindexed, indexed))
    Families.foreach(f => files(f) = countFiles(paths(f)))
  }

  /** (query, id, score) rows grouped by query. */
  private def top(df: DataFrame): TopKs =
    df.collect().toSeq.map(r => (r.getLong(0), (r.getAs[Number](1).longValue, r.getAs[Number](2).doubleValue)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private def vtop(df: DataFrame): TopKs = top(df.select("query_id", "corpus_id", "cosine"))

  private def sameTopKs(a: TopKs, b: TopKs): Boolean =
    a.nonEmpty && a.keySet == b.keySet && a.forall { case (k, v) => sameTopK(v, b(k)) }

  /** The pooled query tail: the highest percentile with ten samples
    * beyond it, or the maximum when there are fewer than 11; and which. */
  private def tail(): (Double, String) = {
    val pooled = Families.flatMap(f => ctx.samples(s"${f}_query"))
    val (v, pct, n) = Stats.tail(pooled)
    if (n > 10) (v, f"search_query_tail_ms is p$pct%.1f of $n samples (10 beyond it)")
    else (pooled.maxOption.getOrElse(Double.NaN),
      s"search_query_tail_ms is the maximum of $n samples (fewer than 11)")
  }

  override def notes: Seq[String] = Seq(tail()._2)

  def results(): Seq[(String, Metric)] =
    Families.map(f => s"${f}_query_p50_ms" -> Metric(Stats.median(ctx.samples(s"${f}_query")), "ms")) ++ Seq(
      "search_query_tail_ms" -> Metric(tail()._1, "ms"),
      "index_append_p50_ms" -> Metric(Stats.median(Families.flatMap(f => ctx.samples(s"${f}_append"))), "ms"))

  def layers(): Seq[(String, Metric)] = Families.flatMap { f =>
    val calls = ctx.tracer.traced(s"${f}_query")
    def per(g: ((Span, Seq[JobRec], Seq[StageRec])) => Double) = Stats.median(calls.map(g))
    def ms(step: String) = Stats.median(ctx.tracer.traced(step).map(_._1.ms))
    val p = s"index.$f"
    Seq(
      s"$p.jobs_per_query" -> Metric(per(_._2.size.toDouble), "count"),
      s"$p.stages_per_query" -> Metric(per(_._3.size.toDouble), "count"),
      s"$p.tasks_per_query" -> Metric(per(_._3.map(_.tasks).sum.toDouble), "count"),
      s"$p.bytes_read_per_query" -> Metric(per(_._3.map(_.inputBytes).sum.toDouble), "bytes"),
      s"$p.driver_prep_ms" -> Metric(per(c => c._2.headOption
        .map(_.start - ctx.tracer.epochMs(c._1.t0)).getOrElse(c._1.ms)), "ms"),
      s"$p.job_ms" -> Metric(per(_._2.filter(_.end > 0).map(j => (j.end - j.start).toDouble).sum), "ms"),
      s"$p.append_ms" -> Metric(ms(s"${f}_append"), "ms"),
      s"$p.delete_ms" -> Metric(ms(s"${f}_delete"), "ms"),
      s"$p.index_files" -> Metric(files.getOrElse(f, 0.0), "count"),
      s"$p.build_s" -> Metric(Stats.median(ctx.tracer.spans.toSeq
        .filter(s => s.kind == "step" && s.name == s"${f}_build" && s.ok).map(_.ms)) / 1e3, "s"))
  }

  def inputs: Seq[(String, Long, Long)] = Seq(
    ("vectors_64d", scale.vectors.toLong, scale.vectors.toLong * Dim * 8),
    ("index_documents", scale.indexDocs.toLong,
      Inputs.documents(ctx.seed, scale.indexDocs).iterator.map(_._2.length.toLong).sum))

  def close(): Unit = ()
}

object IndexServe {
  type TopKs = Map[Long, Seq[(Long, Double)]]
  val Families: Seq[String] = Seq("ivf", "pq", "bm25")
  val Dim = 64
  val NList = 16
  val NProbe = 2
  val K = 10
  val DeletesPerRound = 5

  /** Same scores in order, and the same ids wherever the score is not
    * tied with the last one kept (ties there may fall either way). */
  def sameTopK(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean = {
    val sa = a.sortBy(x => (-x._2, x._1)); val sb = b.sortBy(x => (-x._2, x._1))
    sa.length == sb.length && sa.nonEmpty &&
      sa.zip(sb).forall { case (x, y) => math.abs(x._2 - y._2) <= 1e-3 } && {
        val cut = sa.last._2 + 1e-3
        sa.filter(_._2 > cut).map(_._1).toSet == sb.filter(_._2 > cut).map(_._1).toSet
      }
  }

  def deleteTree(p: String): Unit = {
    val path = Paths.get(p)
    if (java.nio.file.Files.exists(path)) {
      val s = java.nio.file.Files.walk(path)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }

  def countFiles(p: String): Double = {
    val s = java.nio.file.Files.walk(Paths.get(p))
    try s.filter(x => java.nio.file.Files.isRegularFile(x) && !x.getFileName.toString.startsWith("."))
      .count().toDouble
    finally s.close()
  }
}
