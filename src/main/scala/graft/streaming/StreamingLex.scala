package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.{Curation, MaintenanceAdvice}

/** Streaming ingest for the persisted BM25 postings index
  * ([[graft.operators.Curation.writeBm25Index]]) — the lexical member
  * of the index-ingest family, riding [[StreamingAnn.ingestLoop]]'s ONE
  * skeleton so every ordering guarantee (recover before the first
  * append, fold watermark `batchId - 1`, skip-empty, post-fold resident
  * self-maintenance) lands here by construction:
  *
  *  - per-trigger replay-idempotent append
  *    ([[graft.operators.Curation.appendBm25IndexIdempotent]]: postings
  *    overwrite their own `bucket=/ingest_batch=` leaves on replay, the
  *    stats delta applies once via the `last_batch` watermark);
  *  - in-stream incremental fold every `compactEvery` non-empty batches
  *    ([[graft.operators.Curation.compactBm25Index]] at `batchId - 1` —
  *    committed-before-delivery makes that replay-safe), followed by
  *    the resident-layer bound check;
  *  - crash debris from a previous run self-heals on the first batch
  *    ([[graft.operators.Curation.recoverBm25Index]], logged).
  *
  * Unlike the ANN twins there is no drift verdict — BM25 has no trained
  * model to go stale; the maintenance signals are layout-only
  * ([[graft.operators.Curation.bm25MaintenanceAdvice]]). `onBatch`
  * fires after each non-empty batch's append (at-least-once on replay,
  * like the ANN drift rows — key on the batch id to dedup). */
object StreamingLex {

  def appendBatches(path: String, idCol: String, textCol: String,
      compactEvery: Int = 0,
      onAdvice: (MaintenanceAdvice, Long) => Unit = (_, _) => (),
      purgeWhenAdvised: Boolean = false,
      maxTombstones: Long = 100000L,
      metaCols: Seq[String] = Nil)(
      onBatch: Long => Unit = _ => ()): (DataFrame, Long) => Unit =
    StreamingAnn.ingestLoop(Curation.Bm25Family, path, compactEvery,
        onAdvice, driftTripped = () => false, purgeWhenAdvised, maxTombstones)(
      append = (batch, _, batchId) =>
        Curation.appendBm25IndexIdempotent(batch, idCol, textCol, path, batchId,
          metaCols = metaCols),
      monitor = (_, batchId, _) => onBatch(batchId))
}
