package graft.streaming

import graft.operators.{IndexMaintenance, MaintenanceAdvice, Pq, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming ANN — online retrieval against a persisted IVF index
  * ([[graft.operators.Similarity.writeIvfIndex]]): each micro-batch of
  * query vectors is scored with the indexed probe path and handed to the
  * caller's sink. The deployment shape of "embed the incoming request,
  * fetch its neighbors" on a Structured Streaming pipeline.
  *
  * Why a foreachBatch adapter and NOT an in-stream stream-static join:
  * the indexed path's whole point is that a query batch reads ONLY its
  * probed cells — `ivfTopKIndexed` collects the batch's probed cell ids
  * (bounded: ≤ nlist ints) and states them as a literal partition
  * IN-filter, so the corpus scan prunes to nprobe/nlist of the index
  * per batch. A stream-static join on `cell` cannot do that: the probed
  * set isn't known at plan time, so every micro-batch would rescan the
  * FULL index — the difference between touching 1/16th of 100 TB and
  * all of it, every trigger. Per-query top-k ranking (a rank window)
  * is also batch-only; inside foreachBatch both come for free, and the
  * per-batch driver work stays bounded (the query batch's collect and
  * the index snapshot's revalidation listing).
  *
  * State: none — scoring is stateless per batch, so there is no state
  * store, no watermark requirement, and exactly-once lands on the
  * sink's own idempotence (foreachBatch re-delivers a batch id on
  * recovery; parquet-append sinks should key on `batchId`).
  *
  * Usage:
  * {{{
  * queries.writeStream
  *   .foreachBatch(StreamingAnn.topKIndexedBatches(idxPath, "query_id", "qv",
  *     k = 5, nprobe = 4) { (scored, batchId) =>
  *       scored.write.mode("append").parquet(outDir) })
  *   .trigger(Trigger.AvailableNow()).start()
  * }}}
  */
object StreamingAnn {

  /** Build the `foreachBatch` function: score each micro-batch of
    * `(qId, qVec)` rows against the stored index at `path` and pass the
    * ranked `(query_id, corpus_id, cosine, rank)` result to `sink` with
    * the micro-batch id. Same semantics/columns as
    * [[graft.operators.Similarity.ivfTopKIndexed]]; at nprobe = nlist
    * the per-batch answer is exact (every cell probed).
    *
    * Centroids, ledger and corpus schema come from the index snapshot
    * ([[graft.operators.IndexMaintenance]]), revalidated every trigger
    * at no Spark job while unchanged; each trigger re-reads only its
    * probed corpus cells — the part concurrent [[appendBatches]] appends
    * must keep fresh. */
  def topKIndexedBatches(
      path: String, qId: String, qVec: String, k: Int, nprobe: Int)(
      sink: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      // an empty trigger has no probed cells and nothing to rank — skip
      // the index read entirely instead of planning a no-op scan
      if (!batch.isEmpty)
        sink(Similarity.ivfTopKIndexed(batch, qId, qVec, path, k, nprobe), batchId)
    }

  /** The ingest side of the lifecycle: a `foreachBatch` function that
    * appends each micro-batch of `(id, vec)` rows into the stored index
    * (assignment against the EXISTING quantizer, one pass over the
    * batch, never a rebuild) and hands the batch's drift row
    * ([[graft.operators.Similarity.ivfDriftStats]]: `n_vectors`,
    * `coarse_fit`) to `onDrift` — the retrain signal the append contract
    * promises, produced in-line with ingestion rather than by a separate
    * monitoring job. ([[appendBatchesWithRetrain]] goes one step
    * further and evaluates the retrain TRIGGER per batch.) When the
    * verdict says retrain, rebuild the index and restart the stream
    * (a rebuild lands at a new path, so it is a new stream by design —
    * centroids must not change under a running assigner).
    *
    * Exactly-once: ingestion is batchId-keyed
    * ([[graft.operators.Similarity.appendIvfIndexIdempotent]] — each
    * batch lands under its own `cell=/ingest_batch=` leaves via dynamic
    * partition overwrite), so a re-delivered foreachBatch id after a
    * crash between append and checkpoint commit overwrites its own
    * leaves instead of double-ingesting; the index state converges to
    * exactly-once regardless of where the failure fell (spec-pinned:
    * StreamingAnnSpec replays a batchId and asserts identical index
    * state and query answers). `onDrift` re-fires on replay — drift
    * rows are monitoring, deliver-at-least-once by design; key on the
    * batch id if the sink must dedup them too.
    *
    * In-stream auto-compaction: every `compactEvery` non-empty batches,
    * fold all checkpoint-committed batch leaves into the build layer
    * ([[graft.operators.Similarity.compactIvfIndex]] — incremental, the
    * fold touches only those leaves). The watermark is `batchId - 1`,
    * which is SAFE BY CONSTRUCTION inside foreachBatch: Structured
    * Streaming commits batch N−1 to the checkpoint before it delivers
    * batch N, and a committed batch is never re-delivered — so the fold
    * can only touch leaves whose replay is impossible, while the
    * in-flight batch keeps its keys and its overwrite-on-replay
    * semantics. Compaction runs on the ingest thread, so the
    * single-writer contract holds without coordination. `compactEvery`
    * ≤ 0 disables it. After each fold the RESIDENT `-1` layer
    * self-maintains too (r16): cells whose file count exceeded 2× the
    * spread bound are rewritten back under it
    * ([[graft.operators.Similarity.compactIvfResident]] — a no-op FS
    * walk when healthy), so a long-running STATIONARY stream keeps
    * bounded files per cell without ever needing the rebuild that only
    * drift would demand.
    *
    * Crash healing: on its first non-empty batch the ingest runs
    * [[graft.operators.Similarity.recoverIvfFold]] — if a previous run
    * died mid-fold, the restarted stream deterministically rolls the
    * fold back or forward (logged) instead of failing the layout guard;
    * a restart is exactly when that debris surfaces, and the stream is
    * the index's single writer, so self-healing here is safe. */
  def appendBatches(
      path: String, idCol: String, vecCol: String, compactEvery: Int,
      onAdvice: (MaintenanceAdvice, Long) => Unit = (_, _) => (),
      purgeWhenAdvised: Boolean = false, maxTombstones: Long = 100000L,
      metaCols: Seq[String] = Nil)(
      onDrift: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    ingest(path, idCol, vecCol, compactEvery, onAdvice,
        purgeWhenAdvised = purgeWhenAdvised, maxTombstones = maxTombstones,
        metaCols = metaCols) {
      (batch, batchId, ct) =>
        onDrift(Similarity.ivfDriftStats(batch, idCol, vecCol, ct), batchId)
    }

  /** [[appendBatches]] without auto-compaction (compactEvery = 0); see
    * that overload for the full ingest contract. */
  def appendBatches(
      path: String, idCol: String, vecCol: String)(
      onDrift: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    appendBatches(path, idCol, vecCol, compactEvery = 0)(onDrift)

  /** Per-batch retrain verdict: `retrain` = the batch's coarse fit fell
    * more than the tolerance below the index's build-time reference
    * ([[graft.operators.Similarity.shouldRetrain]]). */
  final case class RetrainVerdict(retrain: Boolean, nVectors: Long,
    coarseFit: Double, refCoarseFit: Double)

  /** [[appendBatches]] with the drift-retrain loop CLOSED in-stream:
    * after each non-empty batch is appended, the retrain trigger runs
    * against the index's build-time `drift_ref` row (the reference
    * loaded once per stream, the quantizer read from the index snapshot
    * — the per-batch cost is one narrow pass over the batch) and the [[RetrainVerdict]] goes to the
    * caller's sink. The verdict is monitoring, at-least-once on replay
    * like `onDrift`. On `retrain = true` the operational move is:
    * finish/stop the stream, run
    * [[graft.operators.Similarity.rebuildIvfIndex]] (build-aside at a
    * NEW path: hash-spread retrain over the resident corpus, re-laid-out
    * rows, re-baselined `drift_ref` — a noisier distribution has
    * intrinsically lower fit), and start a new stream pointing at the
    * rebuilt index. The trigger deliberately does NOT stop the stream
    * itself: ingestion stays correct under drift (at nprobe = nlist even
    * exact), so when to pay a rebuild is the operator's call, not the
    * pipeline's. */
  def appendBatchesWithRetrain(
      path: String, idCol: String, vecCol: String, compactEvery: Int = 0,
      fitDropTol: Double = 0.05,
      onAdvice: (MaintenanceAdvice, Long) => Unit = (_, _) => (),
      purgeWhenAdvised: Boolean = false, maxTombstones: Long = 100000L,
      metaCols: Seq[String] = Nil)(
      onVerdict: (RetrainVerdict, Long) => Unit): (DataFrame, Long) => Unit = {
    var refFit = Double.NaN // loaded once per stream
    @volatile var drifted = false // the advice's drift axis = the last verdict
    ingest(path, idCol, vecCol, compactEvery, onAdvice, () => drifted,
        purgeWhenAdvised, maxTombstones, metaCols) {
      (batch, batchId, ct) =>
        if (refFit.isNaN)
          refFit = Similarity.loadIvfDriftRef(batch.sparkSession, path)
        val stats = Similarity.ivfDriftStats(batch, idCol, vecCol, ct).collect()(0)
        val fit = stats.getDouble(1)
        // the rule is Similarity.shouldRetrain's, by reference — only the
        // stats row is computed here (one batch scan, n + fit together)
        val retrain = Similarity.ivfRetrainRule(fit, refFit, fitDropTol)
        drifted = retrain
        onVerdict(RetrainVerdict(retrain, stats.getLong(0), fit, refFit), batchId)
    }
  }

  /** Per-batch PQ retrain verdict ([[graft.operators.Pq.shouldRetrain]]):
    * `retrain` = coarse fit fell below the build-time reference by more
    * than the tolerance, OR the PQ reconstruction error rose above it by
    * more than the relative fraction. */
  final case class PqRetrainVerdict(retrain: Boolean, nVectors: Long,
    coarseFit: Double, pqErr: Double, refCoarseFit: Double, refPqErr: Double)

  /** The IVFPQ ingest — [[appendBatches]]'s PQ twin over a stored
    * [[graft.operators.Pq.writePqIndex]] index: per-trigger replay-
    * idempotent append into BOTH batchId-keyed tables
    * ([[graft.operators.Pq.appendPqIndexIdempotent]] — a re-delivered
    * batch overwrites its own leaves, and a crash between the two table
    * writes heals on replay), the batch's drift row (`n_vectors`,
    * `coarse_fit`, `pq_err`) to `onDrift`, and the same watermarked
    * in-stream incremental fold every `compactEvery` non-empty batches
    * ([[graft.operators.Pq.compactPqIndex]] at `batchId - 1` — safe by
    * the same committed-before-delivery construction as the IVF twin).
    * The model (centroids + codebooks) comes from the index snapshot
    * (no Spark job per trigger while unchanged); fold
    * debris from a crashed previous run self-heals on the first batch
    * ([[graft.operators.Pq.recoverPqFold]], logged). Drift rows are
    * monitoring — at-least-once on replay, key on batchId to dedup. */
  def appendPqBatches(
      path: String, idCol: String, vecCol: String, compactEvery: Int = 0,
      onAdvice: (MaintenanceAdvice, Long) => Unit = (_, _) => (),
      purgeWhenAdvised: Boolean = false, maxTombstones: Long = 100000L,
      metaCols: Seq[String] = Nil)(
      onDrift: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    pqIngest(path, idCol, vecCol, compactEvery, onAdvice,
        purgeWhenAdvised = purgeWhenAdvised, maxTombstones = maxTombstones,
        metaCols = metaCols) {
      (batch, batchId, cents, model) =>
        onDrift(Pq.indexDriftStats(batch, idCol, vecCol, cents, model), batchId)
    }

  /** [[appendPqBatches]] with the retrain loop closed in-stream —
    * [[appendBatchesWithRetrain]]'s PQ twin, with both drift axes: the
    * trigger fires on coarse-fit collapse OR reconstruction-error rise
    * vs the build-time reference (loaded once per stream). Same
    * operational contract: the verdict is advisory; on `retrain = true`
    * stop the stream, run [[graft.operators.Pq.rebuildPqIndex]]
    * (build-aside at a new path, both models retrained hash-spread,
    * `drift_ref` re-baselined), restart against the rebuilt index. */
  def appendPqBatchesWithRetrain(
      path: String, idCol: String, vecCol: String, compactEvery: Int = 0,
      fitDropTol: Double = 0.05, errRiseFrac: Double = 0.15,
      onAdvice: (MaintenanceAdvice, Long) => Unit = (_, _) => (),
      purgeWhenAdvised: Boolean = false, maxTombstones: Long = 100000L,
      metaCols: Seq[String] = Nil)(
      onVerdict: (PqRetrainVerdict, Long) => Unit): (DataFrame, Long) => Unit = {
    var ref: (Double, Double) = null // loaded once per stream
    @volatile var drifted = false // the advice's drift axis = the last verdict
    pqIngest(path, idCol, vecCol, compactEvery, onAdvice, () => drifted,
        purgeWhenAdvised, maxTombstones, metaCols) {
      (batch, batchId, cents, model) =>
        if (ref == null) ref = Pq.loadPqDriftRef(batch.sparkSession, path)
        // one narrow pass yields n + both drift axes; the verdict rule is
        // Pq.shouldRetrain's, BY REFERENCE (pqRetrainRule) — only the
        // stats row is computed here to avoid a second batch scan
        val s = Pq.indexDriftStats(batch, idCol, vecCol, cents, model).collect()(0)
        val (fit, err) = (s.getDouble(1), s.getDouble(2))
        val retrain = Pq.pqRetrainRule(fit, err, ref._1, ref._2, fitDropTol, errRiseFrac)
        drifted = retrain
        onVerdict(PqRetrainVerdict(retrain, s.getLong(0), fit, err, ref._1, ref._2), batchId)
    }
  }

  private def pqIngest(
      path: String, idCol: String, vecCol: String, compactEvery: Int,
      onAdvice: (MaintenanceAdvice, Long) => Unit = (_, _) => (),
      driftTripped: () => Boolean = () => false,
      purgeWhenAdvised: Boolean = false, maxTombstones: Long = 100000L,
      metaCols: Seq[String] = Nil)(
      monitor: (DataFrame, Long, Array[Array[Double]], Pq.PqModel) => Unit): (DataFrame, Long) => Unit =
    ingestLoop(Pq.PqFamily, path, compactEvery,
        onAdvice, driftTripped, purgeWhenAdvised, maxTombstones)(
      append = (batch, m, batchId) => Pq.appendPqIndexIdempotent(
        batch, idCol, vecCol, path, m._1, m._2, batchId, spreadFiles = 0,
        metaCols = metaCols),
      monitor = (batch, batchId, m) => monitor(batch, batchId, m._1, m._2))

  private def ingest(
      path: String, idCol: String, vecCol: String, compactEvery: Int,
      onAdvice: (MaintenanceAdvice, Long) => Unit = (_, _) => (),
      driftTripped: () => Boolean = () => false,
      purgeWhenAdvised: Boolean = false, maxTombstones: Long = 100000L,
      metaCols: Seq[String] = Nil)(
      monitor: (DataFrame, Long, Array[Array[Double]]) => Unit): (DataFrame, Long) => Unit =
    ingestLoop(Similarity.IvfFamily, path, compactEvery,
        onAdvice, driftTripped, purgeWhenAdvised, maxTombstones)(
      append = (batch, cents, batchId) => Similarity.appendIvfIndexIdempotent(
        batch, idCol, vecCol, path, cents, batchId, metaCols = metaCols),
      monitor = monitor)

  /** The ONE ingest skeleton every index family rides — any change to
    * the ordering (recover before first append, fold watermark
    * `batchId - 1`, skip-empty) lands in all of them by construction.
    * The family's own maintenance ops ([[IndexMaintenance.Family]]:
    * recover, fold, resident compaction, advice, purge) run against
    * `path`, and its routing data `M` (centroids, model, stats row) is
    * read per batch through the index snapshot — no Spark job while
    * unchanged, and never stale; the caller passes only what is
    * family-specific per batch — `append` and `monitor`.
    *
    * After each in-stream fold the RESIDENT layer self-maintains (r16):
    * the family's resident compaction rewrites any cell whose `-1` file
    * count exceeded the default bound (2× the spread bound — one fold's
    * accrual tolerated). On a healthy layout it is one FS walk and a
    * no-op; at the compact-every-other-fold cadence this keeps each
    * compaction in the accrued-cells-only shape (SCALE.md 16a: 4.4 s vs
    * 171.7 s at 20 M), and a STATIONARY stream — which never trips the
    * drift verdict, so no rebuild would ever flatten it — has bounded
    * resident files by construction. Runs on the ingest thread like the
    * fold, so the single-writer contract holds without coordination.
    *
    * At each maintenance point (r17) the family's [[MaintenanceAdvice]]
    * (with `driftTripped()` as its drift axis) is computed BEFORE the
    * remedies run — the observable threshold transition (SCALE.md 16a:
    * `fold`/`compact-resident` at accrual, `none` after) — logged, and
    * handed to `onAdvice` with the batch id so a production monitor sees
    * WHY the loop acted, not just that it did. One layout-stats walk per
    * maintenance point, not per batch; at-least-once on replay like the
    * drift rows.
    *
    * `purgeWhenAdvised` (r18) closes the one advice signal the loop
    * would otherwise only REPORT: the loop re-advises AFTER the fold —
    * the purge requires the folded index the fold just produced, and
    * the fold-first precedence means the pre-fold advice can never say
    * purge while leaves exist — and if the verdict is `purge-deletes`,
    * runs the family's physical purge on the ingest thread
    * (single-writer holds, like the fold). The post-fold advice is
    * handed to `onAdvice` too, so the monitor sees the purge-deletes
    * transition and then its disappearance. */
  private[streaming] def ingestLoop[M](family: IndexMaintenance.Family[M],
      path: String, compactEvery: Int, onAdvice: (MaintenanceAdvice, Long) => Unit,
      driftTripped: () => Boolean, purgeWhenAdvised: Boolean, maxTombstones: Long)(
      append: (DataFrame, M, Long) => Unit,
      monitor: (DataFrame, Long, M) => Unit): (DataFrame, Long) => Unit = {
    var appended = 0L
    var recovered = false
    def advise(spark: SparkSession) =
      family.advice(spark, path, driftTripped(), maxTombstones = maxTombstones)
    (batch, batchId) => {
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        if (!recovered) {
          family.recover(spark, path).foreach(msg =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"StreamingAnn: recovered interrupted compaction — $msg"))
          recovered = true
        }
        val m = family.routing(spark, path)
        append(batch, m, batchId)
        monitor(batch, batchId, m)
        appended += 1
        if (compactEvery > 0 && appended % compactEvery == 0 && batchId > 0) {
          val a = advise(spark)
          org.slf4j.LoggerFactory.getLogger(getClass)
            .info(s"StreamingAnn: maintenance point at batch $batchId — " +
              s"advice ${a.action} (${a.reason})")
          onAdvice(a, batchId)
          family.fold(spark, path, batchId - 1)
          val cells = family.compactResident(spark, path).sum
          if (cells > 0)
            org.slf4j.LoggerFactory.getLogger(getClass)
              .info(s"StreamingAnn: resident compaction flattened $cells over-bound cells")
          if (purgeWhenAdvised) {
            // re-advise on the just-folded layout: pending tombstones
            // that redirected to `fold` above are now actionable
            val a2 = advise(spark)
            if (a2.action == "purge-deletes") {
              onAdvice(a2, batchId)
              val rewritten = family.purge(spark, path).sum
              org.slf4j.LoggerFactory.getLogger(getClass)
                .info(s"StreamingAnn: advice-driven purge at batch $batchId " +
                  s"rewrote $rewritten partitions (${a2.reason})")
            }
          }
        }
      }
    }
  }

}
