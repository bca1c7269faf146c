package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The ONE lifecycle of the three persisted index families, all laid out
  * with two-level `<level1>=<c>/ingest_batch=<b>` partitioning — IVF
  * `corpus`, IVFPQ `codes` + `vectors` (level1 `cell`), BM25 `postings`
  * (level1 `bucket`). A [[Family]] descriptor names a family's tables
  * and columns; every maintenance op (fold, resident compaction, layout
  * stats, advice, purge, recover, manual-lane resolution, append guards,
  * delete, rebuild input, metadata backfill) is implemented once over
  * its tables. Underneath sit the table-level primitives: the
  * incremental leaf fold that compaction is built on, its crash
  * recovery, and the staging-debris guard.
  *
  * ## Why an incremental fold, not a rewrite
  *
  * r14's compaction read and rewrote the WHOLE table per fold — with
  * in-stream `compactEvery = N` a long ingest paid O(resident index)
  * every N batches, O(index²/N) lifetime write I/O for O(new data) of
  * useful work, and at 100 TB a single fold was a full-index job. The
  * fold here reads ONLY the checkpoint-committed batch leaves
  * (`0 ≤ ingest_batch ≤ committed`, listed directly so even the FS
  * listing is batch-sized), writes their rows as new bounded-fan-out
  * files into the existing `ingest_batch=-1` leaves, and deletes the
  * folded batch leaves. The resident `-1` files are never read, never
  * rewritten, never renamed — fold cost scales with the folded batches,
  * not the index.
  *
  * Each fold ADDS at most one cell-spread bound's worth of files per
  * cell to the `-1` layer, so `-1` accrues `folds × bound` files over a
  * stream's lifetime (vs `batches` per cell unfolded). When that
  * accrual itself warrants flattening, [[Family.compactResident]] rewrites
  * just the over-bound cells back under the bound (the STATIONARY
  * stream's remedy — a stationary corpus never trips the drift
  * trigger, so nothing else would ever flatten it); a DRIFTED corpus
  * rebuilds instead — the retrain verdict demands one by then, and a
  * rebuild IS the major compaction.
  *
  * ## Crash safety (the r14 rename-swap's fatal window, removed)
  *
  * The old two-rename swap had a window where a crash left NO live
  * table (between `rename(table, old)` and `rename(tmp, table)`), and a
  * later compaction's `delete(old)` destroyed the stranded original.
  * The fold never renames the live table at all; it is staged through
  * two markers written INSIDE the table dir (underscore-prefixed, so
  * parquet readers ignore them):
  *
  *  1. fold output written to `<table>_fold_tmp` (outside the table —
  *     a non-partition dir inside it would break partition discovery);
  *  2. `_fold_staged` marker created (atomic write-then-rename),
  *     listing the EXACT destination files and leaf dirs;
  *  3. tmp files renamed into `cell=<c>/ingest_batch=-1/` under
  *     fold-prefixed names;
  *  4. marker renamed `_fold_staged` → `_fold_commit` (atomic — the
  *     point of no return);
  *  5. folded leaf dirs deleted; tmp + marker removed.
  *
  * A crash anywhere leaves a deterministic recovery: `_fold_staged`
  * present → roll BACK (delete the listed destination files — the
  * originals are all still in their leaves); `_fold_commit` present →
  * roll FORWARD (delete the listed leaf dirs — every destination file
  * is in place by construction). Both are idempotent. [[recover]]
  * performs whichever applies; [[requireNoDebris]] makes writers refuse
  * to touch an index with unrecovered debris.
  *
  * Readers during a NORMAL fold: the only reader-visible inconsistency
  * (a folded batch appearing twice) is confined to the marker-bracketed
  * move+delete window of steps 3–5, which a healthy fold clears in well
  * under a second — the expensive tmp write (step 1) happens before any
  * marker exists and never touches reader-visible files. Readers
  * therefore gate on [[requireReadConsistent]]: wait briefly while a
  * marker is present (a live fold finishes; the read proceeds), fail
  * with the remedy only when the marker outlives the wait (a crash).
  * Writers gate on the stricter [[requireNoDebris]] — under the
  * single-writer contract any staging artifact a writer sees is a crash.
  */
private[graft] object IndexMaintenance {

  private def foldTmp(table: Path) =
    new Path(table.getParent, table.getName + "_fold_tmp")
  private def stagedMarker(table: Path) = new Path(table, "_fold_staged")
  private def commitMarker(table: Path) = new Path(table, "_fold_commit")
  private def markerScratch(table: Path) = new Path(table, "._fold_staged.tmp")
  private def epochFile(table: Path) = new Path(table, "_fold_epoch")
  private def epochScratch(table: Path) = new Path(table, "._fold_epoch.tmp")
  // r14 rename-swap debris (an index crashed under the OLD protocol)
  private def legacyTmp(table: Path) =
    new Path(table.getParent, table.getName + "_compact_tmp")
  private def legacyOld(table: Path) =
    new Path(table.getParent, table.getName + "_old")

  /** Test seam: set to a phase name ("before-commit" | "before-cleanup")
    * to crash a fold at that point — lets specs pin the recovery paths
    * without timing luck. */
  @volatile private[graft] var failpoint: Option[String] = None
  private def maybeFail(phase: String): Unit =
    if (failpoint.contains(phase))
      throw new RuntimeException(s"injected fold crash at $phase")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Throw if `table` carries staging debris from an interrupted fold
    * (or from the pre-r15 rename-swap). This is the WRITER form: under
    * the single-writer contract a writer can never race a live fold, so
    * ANY staging artifact it sees — including the fold-tmp dir — is a
    * crash leftover that appending around would corrupt (a folded batch
    * counted twice after recovery). */
  private[graft] def requireNoDebris(fs: FileSystem, table: Path): Unit =
    failOnDebris(fs, table, Seq(
      stagedMarker(table) -> "an interrupted fold (staged)",
      commitMarker(table) -> "an interrupted fold (committed)",
      markerScratch(table) -> "an interrupted fold (pre-stage scratch)",
      foldTmp(table) -> "fold staging output",
      legacyTmp(table) -> "a pre-r15 compaction's staging dir",
      legacyOld(table) -> "a pre-r15 compaction's renamed-aside table"))

  /** How long [[requireReadConsistent]] waits for a live fold's marker
    * window to clear before declaring it crash debris. A seam (not a
    * per-call knob) so specs can pin the crash path without 15 s stalls;
    * production readers never see the full wait — a healthy window is
    * sub-second. */
  @volatile private[graft] var readGateWaitMs: Long = 15000L

  /** The table's maintenance EPOCH: a counter bumped exactly once by
    * every completed mutation of reader-visible files (a fold, a
    * resident compaction, a recovery in either direction) — bumped
    * BEFORE the op's marker is removed, so the (marker, epoch) pair
    * sampled on both sides of a listing proves the listing overlapped
    * no move/delete window: any mutation interval is bracketed by its
    * marker, and an interval that fell ENTIRELY between the two samples
    * left the epoch changed. Missing file reads as 0 (pre-epoch
    * indexes; the first maintenance op creates it). */
  private[graft] def readEpoch(fs: FileSystem, table: Path): Long = {
    val f = epochFile(table)
    if (!fs.exists(f)) 0L
    else readMarker(fs, f).headOption.map(_.trim.toLong).getOrElse(0L)
  }

  private def bumpEpoch(fs: FileSystem, table: Path): Unit = {
    val next = readEpoch(fs, table) + 1
    val out = fs.create(epochScratch(table), true)
    try out.write(s"$next\n".getBytes("UTF-8")) finally out.close()
    // delete-then-rename (HDFS rename refuses to overwrite): a reader
    // sampling during the gap reads 0, which can only FALSE-POSITIVE a
    // retry, never mask a change
    fs.delete(epochFile(table), false)
    require(fs.rename(epochScratch(table), epochFile(table)),
      s"could not publish epoch ${epochFile(table)}")
  }

  /** Test seam: runs after the gate + epoch sample and before the
    * caller's listing inside [[consistentListing]] — lets a spec run a
    * WHOLE maintenance op inside the reader's listing window without
    * timing luck. */
  @volatile private[graft] var afterGateHook: Option[() => Unit] = None
  /** Test seam: how many listings were retried by the snapshot check. */
  private[graft] val listingRetries = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run `list` (a driver-side file-listing action — e.g. constructing a
    * DataFrame over the table, which lists its files eagerly) under an
    * OPTIMISTIC SNAPSHOT: sample (marker, epoch) before and after; equal
    * samples prove no maintenance op's move/delete window overlapped the
    * listing, so the captured file set is a consistent snapshot — a
    * folded batch can never appear twice in it. On a changed sample the
    * listing is retried (the fold that invalidated it has finished;
    * bounded attempts, then fail loudly). This closes the r15 KNOWN
    * LIMIT's silent half: with it, retrieval concurrent with maintenance
    * has exactly ONE residual anomaly — a task reading a file deleted
    * AFTER the snapshot was captured fails loudly with
    * FileNotFoundException (retry the query); transient double-counting
    * is gone. */
  private[graft] def consistentListing[T](fs: FileSystem, table: Path)(list: => T): T = {
    val maxAttempts = 5
    var attempt = 0
    while (attempt < maxAttempts) {
      requireReadConsistent(fs, table) // waits out a live marker window
      val e0 = readEpoch(fs, table)
      afterGateHook.foreach(h => h())
      // a fold deleting a leaf WHILE `list` walks it throws rather than
      // returning a stale set — same race, same remedy: detect the
      // overlapping maintenance window below and retry; only a miss with
      // NO overlap is a genuinely absent file and propagates. Above the
      // parallel-partition-discovery threshold (32 leaf dirs) Spark
      // lists via a job, so the FNF arrives WRAPPED in a SparkException
      // — walk the cause chain, not just the top frame (r17 review).
      val out =
        try Right(list)
        catch {
          case e: Throwable
              if scala.util.control.NonFatal(e) && fnfInChain(e) => Left(e)
        }
      val markerNow = fs.exists(stagedMarker(table)) || fs.exists(commitMarker(table))
      val overlapped = markerNow || readEpoch(fs, table) != e0
      (out, overlapped) match {
        case (Right(v), false) => return v
        case (Left(e), false) => throw e
        case _ => listingRetries.incrementAndGet(); attempt += 1
      }
    }
    throw new IllegalStateException(
      s"could not capture a consistent file listing of $table after $maxAttempts " +
        "attempts — a maintenance op completed inside every listing window. " +
        "This needs sustained back-to-back folds; stagger maintenance or retry.")
  }

  private def fnfInChain(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 10) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      c = c.getCause
      depth += 1
    }
    false
  }

  /** Reader-side consistency gate. Readers are NOT under the
    * single-writer contract, so a marker may belong to a LIVE fold, not
    * a crash — and the only phase where a reader could see inconsistent
    * data (a folded batch twice) is the marker-bracketed move+delete
    * window, which a healthy fold clears in well under a second (file
    * renames + leaf deletes; the expensive tmp WRITE happens before any
    * marker exists and is invisible to readers). So: ignore the tmp dir
    * entirely, and on a staged/commit marker WAIT briefly for it to
    * clear — a live fold finishes and the read proceeds consistently; a
    * marker still present after the wait is crash debris and fails with
    * the remedy. Legacy rename-swap debris fails immediately (never
    * live — that code is gone).
    *
    * This gate alone is point-in-time; index probes therefore take
    * their FILE LISTING through [[consistentListing]], which validates
    * the (marker, epoch) pair on both sides of the listing and retries
    * when a maintenance window overlapped it — so a captured listing is
    * a consistent snapshot and a folded batch can never be transiently
    * visible twice (the r15 KNOWN LIMIT's silent half, closed in r16).
    *
    * KNOWN LIMIT (remaining, loud-only): a task reading a file that a
    * maintenance op deleted AFTER the snapshot was captured fails with
    * FileNotFoundException mid-execution — retry the query (the
    * standard contract for reading any directory a writer may rewrite;
    * full mid-EXECUTION isolation needs snapshot metadata, an MVCC
    * table format, out of scope for a directory-layout index).
    * Operators needing strict isolation serialize retrieval with
    * maintenance — the in-stream shape already does (folds run on the
    * ingest thread), and `compactEvery` schedules folds, so a
    * maintenance window is one trigger away. */
  private[graft] def requireReadConsistent(fs: FileSystem, table: Path): Unit = {
    val waitMs = readGateWaitMs
    failOnDebris(fs, table, Seq(
      legacyTmp(table) -> "a pre-r15 compaction's staging dir",
      legacyOld(table) -> "a pre-r15 compaction's renamed-aside table"))
    def markerPresent() =
      fs.exists(stagedMarker(table)) || fs.exists(commitMarker(table))
    if (!markerPresent()) return
    val deadline = System.nanoTime() + waitMs * 1000000L
    while (markerPresent() && System.nanoTime() < deadline) Thread.sleep(200)
    if (markerPresent()) throw new IllegalStateException(
      s"index table $table still carries a fold marker after ${waitMs} ms — " +
        "if no compaction is running this is crash debris; run the index's " +
        "recover entry point (Similarity.recoverIvfFold / Pq.recoverPqFold / " +
        "Curation.recoverBm25Index). " +
        "A live fold's marker window is sub-second; raise the wait only for " +
        "object stores with extreme rename latency.")
  }

  private def failOnDebris(fs: FileSystem, table: Path,
      candidates: Seq[(Path, String)]): Unit = {
    val debris = candidates.filter { case (p, _) => fs.exists(p) }
    if (debris.nonEmpty) throw new IllegalStateException(
      s"index table $table has compaction debris: " +
        debris.map { case (p, what) => s"$p ($what)" }.mkString("; ") +
        " — a maintenance op was interrupted. Run the index's recover " +
        "entry point (Similarity.recoverIvfFold / Pq.recoverPqFold / " +
        "Curation.recoverBm25Index) before reading or appending.")
  }

  // ---------------------------------------------------------------------
  // The MANUAL append lane — shared by every index family's keyless
  // (non-streamed) append. Manual batches get auto-assigned ingest_batch
  // ids counting up from [[ManualLaneFloor]], DISJOINT from foreachBatch
  // ids (which count up from 0) so a stream attached to the same index
  // can never dynamic-overwrite a manual append's leaves (~31 years of
  // 1-second triggers before a stream id reaches the floor). A watermark
  // records the last lane whose append fully committed; the append
  // writes its lane via dynamic overwrite FIRST and advances the
  // watermark SECOND, so a crashed append retried with the same batch
  // reuses its lane and overwrites its own leaves — exactly-once. The
  // lexical family keeps its watermark inside the stats row (one write
  // serves both); the ANN families have no stats row and use the
  // `_manual_watermark` file below.
  // ---------------------------------------------------------------------

  private[operators] val ManualLaneFloor = 1000000000L

  private def manualWatermarkFile(table: Path) = new Path(table, "_manual_watermark")
  private def manualWatermarkScratch(table: Path) =
    new Path(table, "_manual_watermark.tmp")

  /** Last fully-committed manual lane id; missing file (no manual append
    * ever ran, or a pre-r17 index) reads as the floor minus one — unless
    * the publish SCRATCH file survives (r18): [[writeManualWatermark]]
    * publishes by delete-then-rename, and a crash between the two leaves
    * only the scratch, whose content is complete (written and closed
    * before anything is deleted) — falling back to it keeps one crash
    * from re-orphaning every historical lane. A scratch that fails to
    * parse (a crash mid-write, before the delete) reads as floor-1,
    * which only makes a later append re-examine lanes — harmless, since
    * the per-orphan fingerprint check (r18) resolves each lane on its
    * own evidence. */
  private[operators] def readManualWatermark(fs: FileSystem, table: Path): Long = {
    def parse(p: Path): Option[Long] =
      scala.util.Try(readMarker(fs, p).headOption.map(_.trim.toLong)).toOption.flatten
    val f = manualWatermarkFile(table)
    (if (fs.exists(f)) parse(f) else parse(manualWatermarkScratch(table)))
      .getOrElse(ManualLaneFloor - 1)
  }

  /** Publish the manual watermark (scratch + delete + rename, like the
    * epoch): a reader sampling during the gap reads floor-1, which can
    * only make a later append re-examine lanes, never lose one. */
  private[operators] def writeManualWatermark(fs: FileSystem, table: Path,
      v: Long): Unit = {
    val out = fs.create(manualWatermarkScratch(table), true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
    fs.delete(manualWatermarkFile(table), false)
    require(fs.rename(manualWatermarkScratch(table), manualWatermarkFile(table)),
      s"could not publish manual watermark ${manualWatermarkFile(table)}")
  }

  /** Manual-lane leaf ids above `watermark` in the two-level layout —
    * each one an append that wrote its lane but never advanced the
    * watermark (a crash between the two steps). One FS walk. */
  private[operators] def manualLanes(fs: FileSystem, table: Path,
      watermark: Long, level1: String = "cell"): Seq[Long] =
    (for {
      cellDir <- fs.listStatus(table).toSeq
      if cellDir.isDirectory && cellDir.getPath.getName.startsWith(s"$level1=")
      leaf <- fs.listStatus(cellDir.getPath).toSeq
      if leaf.isDirectory && leaf.getPath.getName.startsWith("ingest_batch=")
      b = leaf.getPath.getName.stripPrefix("ingest_batch=").toLong
      if b >= ManualLaneFloor && b > watermark
    } yield b).distinct

  /** Remove every leaf of one lane — the remedy for a HALF-LANDED manual
    * append in a two-table family (codes written, vectors not): the
    * batch never fully landed and its call never returned success, so
    * deletion loses nothing confirmed. Bumps the epoch (reader-visible
    * files were removed) so a concurrent listing retries instead of
    * failing on a vanished leaf. */
  private[operators] def deleteLane(fs: FileSystem, table: Path, lane: Long,
      level1: String = "cell"): Unit = {
    for {
      cellDir <- fs.listStatus(table).toSeq
      if cellDir.isDirectory && cellDir.getPath.getName.startsWith(s"$level1=")
      leaf = new Path(cellDir.getPath, s"ingest_batch=$lane")
      if fs.exists(leaf)
    } fs.delete(leaf, true)
    bumpEpoch(fs, table)
  }

  // ---------------------------------------------------------------------
  // The TOMBSTONE LEDGER (r17) — deletion for append-oriented index
  // families: `deleteFrom*Index` appends deleted ids (plus any columns
  // the family's stats need — BM25 keeps `dl`) under `<index>/deletes`;
  // probes anti-join the broadcast ledger so deleted docs vanish from
  // answers IMMEDIATELY and exactly (the BM25 probes also subtract the
  // ledger's aggregate from the stored stats, so idf/avgdl match an
  // index built without those docs); `purge*Deletes` later reclaims the
  // bytes by rewriting the resident layer through [[rewriteResident]]'s
  // marker protocol. Probes and appends read the ledger driver-side
  // through the index snapshot ([[ledgerRows]], capped; probes apply it
  // with [[dropTombstoned]], appends check it with [[readDeletes]]): an
  // unchanged ledger costs one directory listing and no Spark job, a
  // grown one one job over its new files only. Deletes,
  // backfill and the remediation paths — purge, advice, rebuild — read
  // it distributed ([[ledger]]), so an over-cap ledger never blocks its
  // own remedy.
  // ---------------------------------------------------------------------

  private[operators] def deletesDir(indexPath: String): String =
    s"$indexPath/deletes"

  /** Whether `dir` exists and holds at least one committed parquet data
    * file — the shared "crashed first write reads as absent" predicate
    * for the ledger, the doclen sidecar, and their staging dirs. */
  private[operators] def hasCommittedData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir)
      .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet"))

  /** The deduplicated tombstone ledger as a DISTRIBUTED frame over its
    * parquet files, or None when nothing was ever deleted (dedup makes a
    * re-appended tombstone harmless). A `deletes` dir with NO committed
    * data files (a delete crashed before its job commit) reads as None
    * instead of failing on schema inference. This is the remediation
    * paths' read — purge, advice and rebuild join or count it in
    * executors and never collect it, so the driver-rows cap that
    * refuses probes does not wedge the purge that retires the ledger. */
  private[operators] def ledger(spark: SparkSession,
      indexPath: String): Option[DataFrame] = {
    val p = new Path(deletesDir(indexPath))
    if (!hasCommittedData(fsOf(spark, p), p)) None
    else Some(spark.read.parquet(p.toString).distinct())
  }

  /** Fail-loud cap on tombstone-ledger rows materialized to the driver
    * (r20, the r19 verdict's ledgerAgg guard): the probe anti-joins
    * (broadcast) and [[Curation]]'s driver-memory ledgerAgg rely on the
    * ledger being driver-small "by contract", but nothing enforced the
    * contract: an unbounded delete stream silently grew a driver OOM.
    * The default sits 10× past the default purge-advice gate
    * (`maxTombstones` = 100 000 — advice fires long before the cap),
    * ~tens of MB of driver rows; deployments with a larger bound set
    * `spark.graft.ledger.maxDriverRows`. */
  private[operators] def maxLedgerDriverRows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.ledger.maxDriverRows")
      .map(_.toInt).getOrElse(1000000)

  /** [[readDeletes]]' refusal past the cap — its own type so a probe's
    * snapshot retry loop passes it straight through instead of retrying
    * a verdict that cannot change. */
  private[operators] final class LedgerCapExceeded(msg: String)
      extends IllegalStateException(msg)

  private def capExceeded(indexPath: String, cap: Int) = new LedgerCapExceeded(
    s"tombstone ledger at ${deletesDir(indexPath)} exceeds " +
      s"$cap distinct rows — the ledger is materialized to the driver " +
      "and broadcast by every probe, so an unbounded ledger is a " +
      "driver/executor OOM. Purge (purge advice has been firing since " +
      "maxTombstones) or rebuild to retire it, or raise " +
      "spark.graft.ledger.maxDriverRows if the driver truly has the memory.")

  /** The [[ledger]] MATERIALIZED to the driver as a local frame, refused
    * loudly past [[maxLedgerDriverRows]]. The append check
    * ([[requireNotTombstoned]]) is its only caller; probes go through
    * [[dropTombstoned]], and deletes, backfill, purge, advice and rebuild
    * read [[ledger]] distributed. It is served from the index snapshot
    * ([[ledgerRows]]): no Spark job while the ledger's files are
    * unchanged, one job over the new files after a delete. The local
    * frame holds no file references, so a concurrent purge deleting the
    * ledger files mid-query cannot fail a probe that already read it. */
  private[operators] def readDeletes(spark: SparkSession,
      indexPath: String): Option[DataFrame] =
    ledgerRows(spark, indexPath).map(_.frame(spark))

  /** The one tombstone rule of every probe: drop each row whose `idCol`
    * the ledger lists, by a left anti-join against the ledger's ids,
    * broadcast (the ledger is driver-small, [[maxLedgerDriverRows]]).
    * It applies exactly the ledger the caller read ([[ledgerRows]]), so
    * a probe that pairs the ledger with other state — BM25's stats row —
    * keeps its consistent pair; None leaves every frame as it is. */
  private[operators] def dropTombstoned(spark: SparkSession, ledger: Option[Ledger],
      idCol: String): DataFrame => DataFrame = ledger match {
    case None => identity
    case Some(l) =>
      import org.apache.spark.sql.functions.{broadcast, col}
      val ids = broadcast(l.frame(spark).select(col("id").as(idCol)))
      _.join(ids, Seq(idCol), "left_anti")
  }

  private[operators] def clearDeletes(spark: SparkSession, indexPath: String): Unit = {
    val p = new Path(deletesDir(indexPath))
    fsOf(spark, p).delete(p, true)
    ()
  }

  // ---------------------------------------------------------------------
  // The INDEX SNAPSHOT — the driver-side copy of what probes and appends
  // read of an index besides its tables. Before it, every call re-read
  // the same immutable metadata through fresh Spark jobs (an IVF probe
  // ran 14 jobs, 10 of them for centroids, ledger, probe cells and
  // schema inference). It holds plain driver data only — never a
  // DataFrame, never session state — in three parts, each with its own
  // key, revalidated on EVERY call by file-status reads alone:
  //
  //  - routing data (IVF centroids, IVFPQ centroids + codebooks, the
  //    BM25 stats row), keyed on the (name, length, mtime) set of the
  //    routing dirs' committed files. Spark names every written part
  //    file with a fresh UUID, so any rewrite — build, stats write,
  //    recovery — changes the key; unchanged key = zero Spark jobs,
  //    changed key = one job per routing dir, read with its known schema;
  //  - the tables' schemas, keyed on the `_meta_cols` contract file's
  //    status (every build and backfill rewrites it before AND after
  //    its tables, so a mid-rewrite read is keyed stale), so probes read
  //    their tables with `spark.read.schema(known)` — the listing stays
  //    inside [[consistentListing]], only the schema-inference job goes;
  //  - the deduplicated ledger rows with the files they came from, keyed
  //    on the `deletes` dir's committed files: unchanged = reuse, grown
  //    (new file set ⊇ old — deletes only ever add files) = one job over
  //    the new files with the known schema, anything else (a purge, a
  //    rebuild, a file vanishing mid-read) = full reload.
  //
  // Every part is read from the exact files its key lists, so what a
  // call returns is the state at its own listing: a stale entry can
  // only cost a reload, never serve old data. This JVM's writers write
  // through what they just published — the BM25 stats row, a fresh
  // ledger's schema — under the single-writer contract. Each part is a
  // bounded LRU ([[SnapshotEntries]] entries). Every `_meta_cols` write
  // also drops the path's entries (and a generation counter keeps a
  // load that raced it from being cached).
  // ---------------------------------------------------------------------

  /** A committed file as the snapshot keys it: (name, length, mtime). */
  private type FileKey = (String, Long, Long)

  /** The snapshot's fixed bound: entries per part, least recently used
    * evicted first. */
  private val SnapshotEntries = 64

  /** Test seams: how many snapshot parts were served unchanged (zero
    * jobs), grown by their new files, or (re)loaded from scratch. */
  private[graft] val snapshotReuses = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val snapshotGrowths = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val snapshotReloads = new java.util.concurrent.atomic.AtomicLong(0)

  private final class Lru[K, V] {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > SnapshotEntries
    }
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
    def removeIf(p: K => Boolean): Unit =
      m.synchronized { m.keySet().removeIf(k => p(k)); () }
    def clear(): Unit = m.synchronized(m.clear())
  }

  private final class Routing(val files: Seq[Set[FileKey]], val data: Any)
  private final class Schemas(val metaCols: Option[FileKey],
      val byTable: Map[String, StructType])

  private val routings = new Lru[(AnyRef, String), Routing]
  private val schemas = new Lru[(AnyRef, String), Schemas]
  private val ledgers = new Lru[String, Ledger]
  private val snapshotGeneration = new java.util.concurrent.atomic.AtomicLong(0)

  /** Drop every snapshot entry of the index at `indexPath` — called by
    * every `_meta_cols` write. */
  private def invalidateSnapshot(fs: FileSystem, indexPath: String): Unit = {
    val root = qualified(fs, indexPath)
    snapshotGeneration.incrementAndGet()
    routings.removeIf(_._2 == root)
    schemas.removeIf(_._2 == root)
    ledgers.removeIf(_ == root)
  }

  /** Test seam: the row count of the snapshot's ledger entry for the
    * index at `indexPath`, None when it holds none. */
  private[graft] def snapshotLedgerRows(spark: SparkSession, indexPath: String): Option[Int] = {
    val p = new Path(indexPath)
    ledgers.get(qualified(fsOf(spark, p), indexPath)).map(_.rows.length)
  }

  /** Test seam: empty the snapshot, so the next call reads cold. */
  private[graft] def clearSnapshot(): Unit = {
    snapshotGeneration.incrementAndGet()
    routings.clear(); schemas.clear(); ledgers.clear()
  }

  private def qualified(fs: FileSystem, p: String): String =
    fs.makeQualified(new Path(p)).toString

  private def committedFiles(fs: FileSystem, dir: Path): Set[FileKey] =
    try fs.listStatus(dir).iterator
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  private def fileKey(fs: FileSystem, f: Path): Option[FileKey] =
    try {
      val s = fs.getFileStatus(f)
      Some((s.getPath.getName, s.getLen, s.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Run a snapshot load, relisting up to three times when a file it
    * read vanished underneath it (a concurrent rewrite or purge). */
  private def withRelist[T](load: () => T): T = {
    var attempt = 0
    while (true) {
      try return load()
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) &&
            !e.isInstanceOf[LedgerCapExceeded] && fnfInChain(e) && attempt < 3 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The deduplicated tombstone ledger as plain driver rows, with the
    * files they came from. */
  private[operators] final class Ledger(private[IndexMaintenance] val files: Set[FileKey],
      val schema: StructType, val rows: Array[Row]) {
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

    /** (deleted docs, their summed `dl`) — the BM25 probes' stats
      * adjustment, ONE row per id: a ledger written before deletes
      * became id-unique can hold two differing (id, dl) rows for one doc
      * (a retried manual append whose text changed), and counting both
      * would subtract the doc twice; max(dl) is the deterministic pick.
      * Computed once per ledger version, in driver memory. */
    lazy val deletedDocs: (Long, Long) = {
      val (i, d) = (schema.fieldIndex("id"), schema.fieldIndex("dl"))
      val best = scala.collection.mutable.HashMap.empty[Long, Int]
      rows.foreach { r =>
        val id = r.getLong(i); val dl = r.getInt(d)
        if (best.get(id).forall(_ < dl)) best.update(id, dl)
      }
      (best.size.toLong, best.valuesIterator.foldLeft(0L)(_ + _))
    }

    /** An opaque key: equal keys mean the same ledger files. */
    def key: Any = files
  }

  /** Write-through after a delete appended a ledger file with `schema`:
    * unless the snapshot holds a ledger the current files extend, it
    * records an EMPTY ledger over no files with that schema — true of
    * any file set — so the next read takes the growth path (one job
    * over every file, known schema) instead of inference plus a
    * distributed distinct. */
  private[operators] def rememberLedgerSchema(spark: SparkSession, indexPath: String,
      schema: StructType): Unit = {
    val dir = new Path(deletesDir(indexPath))
    val fs = fsOf(spark, dir)
    val root = qualified(fs, indexPath)
    val files = committedFiles(fs, dir)
    if (ledgers.get(root).forall(c => !c.files.subsetOf(files)))
      ledgers.put(root, new Ledger(Set.empty,
        StructType(schema.map(_.copy(nullable = true))), Array.empty))
  }

  /** The ledger of the index at `indexPath` from the snapshot, None when
    * it has no committed file. One listing of `deletes`; unchanged files
    * cost no Spark job, new files one job (with the known schema), and
    * anything else a full distributed-distinct reload. Refused past
    * [[maxLedgerDriverRows]] with [[LedgerCapExceeded]]: every read is
    * bounded by `cap + 1` rows, and a ledger past the cap is never
    * cached — the snapshot keeps at most the last entry within it. */
  private[operators] def ledgerRows(spark: SparkSession,
      indexPath: String): Option[Ledger] = {
    val dir = new Path(deletesDir(indexPath))
    val fs = fsOf(spark, dir)
    val root = qualified(fs, indexPath)
    val cap = maxLedgerDriverRows(spark)
    def paths(files: Set[FileKey]) = files.toSeq.map(f => new Path(dir, f._1).toString)
    def full(files: Set[FileKey]): Ledger = {
      val stored = spark.read.parquet(paths(files): _*).distinct()
      val rows = stored.limit(cap + 1).collect()
      if (rows.length > cap) throw capExceeded(indexPath, cap)
      new Ledger(files, stored.schema, rows)
    }
    withRelist { () =>
      val gen = snapshotGeneration.get()
      val files = committedFiles(fs, dir)
      if (files.isEmpty) None
      else {
        val cached = ledgers.get(root)
        val l = cached match {
          case Some(c) if c.files == files =>
            snapshotReuses.incrementAndGet(); c
          case Some(c) if c.files.subsetOf(files) =>
            val added = spark.read.schema(c.schema).parquet(paths(files -- c.files): _*)
              .limit(cap + 1).collect()
            if (added.length > cap) { snapshotReloads.incrementAndGet(); full(files) }
            else {
              snapshotGrowths.incrementAndGet()
              val merged = new java.util.LinkedHashSet[Row](java.util.Arrays.asList(c.rows: _*))
              added.foreach(merged.add)
              new Ledger(files, c.schema, merged.toArray(new Array[Row](0)))
            }
          case _ => snapshotReloads.incrementAndGet(); full(files)
        }
        // refused BEFORE it is cached: an over-cap ledger never grows the
        // snapshot, whatever the deletes past the cap add
        if (l.rows.length > cap) throw capExceeded(indexPath, cap)
        if (!cached.contains(l) && snapshotGeneration.get() == gen) ledgers.put(root, l)
        Some(l)
      }
    }
  }

  /** Tiny single-value counter file, published scratch+delete+rename
    * like the epoch (a reader in the gap sees the default). */
  private[operators] def readCounterFile(fs: FileSystem, f: Path,
      default: Long = 0L): Long =
    if (!fs.exists(f)) default
    else readMarker(fs, f).headOption.map(_.trim.toLong).getOrElse(default)

  private[operators] def writeCounterFile(fs: FileSystem, f: Path, v: Long): Unit = {
    val scratch = new Path(f.getParent, f.getName + ".tmp")
    val out = fs.create(scratch, true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
    fs.delete(f, false)
    require(fs.rename(scratch, f), s"could not publish counter $f")
  }

  /** Appending a TOMBSTONED id would be silent data loss: the ledger's
    * probe-time anti-join hides every copy of the id, old and new, so
    * the fresh rows would be invisible until a rebuild — refuse loudly
    * instead (deletion is terminal for an id until a rebuild resets the
    * ledger). Costs one broadcast semi-join probe over the batch, and
    * only when a ledger exists at all.
    *
    * `isCommittedReplay` (r18) is the idempotent lane's escape hatch:
    * Structured Streaming re-delivers a batch whose WRITE committed but
    * whose checkpoint didn't, and if one of that batch's ids was
    * deleted in between, refusing would throw on every restart — the
    * stream could never progress, even though the replay is a harmless
    * self-overwrite whose rows the ledger already hides. The thunk is
    * evaluated ONLY on a tombstone hit (it may cost an FS walk); `true`
    * means the batch's leaves are already on disk — a replay, let it
    * overwrite itself — while `false` keeps the loud refusal (a batch
    * that never landed is a genuinely fresh append of a deleted id).
    * The manual lane always passes the default `false`: its retries are
    * operator-driven, so loud-and-actionable beats silent. */
  private[operators] def requireNotTombstoned(spark: SparkSession,
      indexPath: String, batchIds: org.apache.spark.sql.DataFrame,
      isCommittedReplay: () => Boolean = () => false): Unit =
    readDeletes(spark, indexPath).foreach { d =>
      import org.apache.spark.sql.functions.broadcast
      val hit = batchIds.join(broadcast(d.select("id")), Seq("id"), "left_semi")
        .limit(1).collect()
      if (hit.nonEmpty && !isCommittedReplay())
        throw new IllegalArgumentException(
        s"batch re-appends deleted id ${hit(0).get(0)} — the tombstone ledger at " +
          s"${deletesDir(indexPath)} hides every copy of a deleted id, old and " +
          "new, so the appended rows would be invisible. Deletion is terminal " +
          "for an id until a PURGE or rebuild retires the ledger; append under " +
          "fresh ids, or purge/rebuild first.")
    }

  /** Whether any leaf of `lane` exists in the two-level layout — the
    * idempotent lanes' committed-replay detector for
    * [[requireNotTombstoned]]: a fold only ever folds checkpoint-
    * COMMITTED batches (which Structured Streaming never re-delivers),
    * so a re-delivered batch's leaves are still on disk iff its write
    * committed. One first-level listing + one exists() per cell dir,
    * paid only on a tombstone hit. */
  private[operators] def laneExists(fs: FileSystem, table: Path, lane: Long,
      level1: String = "cell"): Boolean =
    fs.exists(table) && fs.listStatus(table).exists { c =>
      c.isDirectory && c.getPath.getName.startsWith(s"$level1=") &&
        fs.exists(new Path(c.getPath, s"ingest_batch=$lane"))
    }

  /** True when some tombstoned id still has rows in an UNFOLDED
    * (`ingest_batch >= 0`) lane of `tablePath` — the precise purge
    * precondition (r18): the purge rewrites only the resident `-1`
    * layer, so a tombstoned row in a batch lane would survive it and
    * resurface once the ledger retired. r17 gated on batchLeaves == 0
    * outright, which a LIVE stream never satisfies (its current batch
    * is always unfolded) — so the advice's purge signal was
    * structurally un-actionable in-stream. Cost: one FS listing plus a
    * scan of the batch lanes ONLY (resident files are never listed into
    * the read); free when no lanes exist. The ledger joins as given —
    * a distributed [[ledger]] stays in executors. */
  private[operators] def tombstonesUnfolded(spark: SparkSession,
      tablePath: String, ledgerIds: DataFrame, idColInTable: String,
      level1: String = "cell"): Boolean = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    // a missing table dir has no lanes at all (the laneExists guard,
    // r18 advice): verdict false, not FileNotFoundException — callers
    // probing a mid-maintenance or freshly-reset index get a clean
    // answer and the purge's own table reads stay the loud failure
    if (!fs.exists(table)) return false
    val leafRels: Seq[String] = for {
      cellDir <- fs.listStatus(table).toSeq
      if cellDir.isDirectory && cellDir.getPath.getName.startsWith(s"$level1=")
      leaf <- fs.listStatus(cellDir.getPath).toSeq
      if leaf.isDirectory && leaf.getPath.getName.startsWith("ingest_batch=")
      if leaf.getPath.getName.stripPrefix("ingest_batch=").toLong >= 0
    } yield s"${cellDir.getPath.getName}/${leaf.getPath.getName}"
    leafRels.nonEmpty && {
      import org.apache.spark.sql.functions.col
      spark.read.option("basePath", tablePath)
        .parquet(leafRels.map(r => s"$tablePath/$r"): _*)
        .join(ledgerIds.select(col("id").as(idColInTable)),
          Seq(idColInTable), "left_semi")
        .limit(1).count() > 0
    }
  }

  /** The index's metadata-column CONTRACT file (r18 review): the build
    * records its `metaCols` at `<index>/_meta_cols` and every append
    * must match it — a mismatched append would land rows whose missing
    * metadata reads as NULL under the union schema, and a filtered
    * probe would then silently drop them (incomplete answers, no
    * error). A missing file reads as Nil (pre-r18 index, or a meta-less
    * build), so meta-less appends to old indexes pass unchanged while
    * an append that ADDS metadata to a meta-less index refuses with the
    * rebuild remedy. One tiny file read per append. */
  private def metaColsFile(indexRoot: Path) = new Path(indexRoot, "_meta_cols")

  /** Written by every build and backfill before its tables (the
    * contract every append checks) and again after them — also for an
    * empty column set, so each write changes the file's status, which
    * is the index snapshot's schema key: a schema read while the tables
    * were being rewritten can never match the key the rewrite ends
    * with. Drops the path's snapshot entries. */
  private[operators] def writeMetaColsFile(fs: FileSystem, indexRoot: String,
      metaCols: Seq[String]): Unit = {
    val f = metaColsFile(new Path(indexRoot))
    invalidateSnapshot(fs, indexRoot)
    fs.delete(f, false)
    writeMarker(fs, new Path(indexRoot, "._meta_cols.tmp"), f, metaCols)
  }

  private[operators] def readMetaColsFile(fs: FileSystem,
      indexRoot: String): Seq[String] = {
    val f = metaColsFile(new Path(indexRoot))
    if (!fs.exists(f)) Nil
    else scala.util.Try(readMarker(fs, f).map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
  }

  private[operators] def requireSameMetaCols(spark: SparkSession,
      indexRoot: String, metaCols: Seq[String]): Unit = {
    val fs = fsOf(spark, new Path(indexRoot))
    val stored = readMetaColsFile(fs, indexRoot)
    require(stored.sorted == metaCols.sorted,
      s"index at $indexRoot was built with metaCols [${stored.mkString(", ")}] " +
        s"but this append carries [${metaCols.mkString(", ")}] — rows with " +
        "missing metadata read as NULL under the union schema and filtered " +
        "probes would silently drop them. Append with the build's metaCols, " +
        "or rebuild the index with the new column set.")
  }

  /** Heal an interrupted write-aside + delete + rename publish: a
    * COMPLETE (`_SUCCESS`-gated) aside with no live copy rolls forward;
    * an aside beside a live copy is residue and is removed. Returns what
    * was repaired. */
  private[operators] def recoverAside(fs: FileSystem, aside: Path,
      live: Path): Option[String] =
    if (!fs.exists(aside)) None
    else if (!fs.exists(live) && fs.exists(new Path(aside, "_SUCCESS"))) {
      require(fs.rename(aside, live), s"recover: could not publish $live")
      Some(s"installed the staged copy at $live")
    } else {
      fs.delete(aside, true)
      Some(s"removed stale staging beside $live")
    }

  /** The shared table rewrite behind the metadata UPGRADE path (r19,
    * `backfillMetaCols`): join `meta`'s columns onto every row of ONE
    * index table and republish it — the column-join remedy for a
    * pre-metadata index, where the only alternative was a full rebuild
    * (for PQ a complete re-encode, 160 s at the 20 M rung for what is
    * one id-keyed join). The join SHUFFLES — the metadata frame is
    * corpus-sized (one row per doc), never broadcast.
    *
    * Protocol: validate, write the joined table ASIDE
    * (`<table>_backfill`, `_SUCCESS`-gated), then delete-live + rename
    * — the doclen sidecar's swap shape. Crash windows heal at the next
    * call (or any family recover): a COMPLETE aside with no live table
    * rolls forward; anything else beside a live table is residue and is
    * removed. The epoch bumps after the publish so gated readers see
    * the mutation. A table already carrying every requested column
    * returns false untouched — what makes the two-table PQ backfill
    * resumable after a crash between its tables. Offline maintenance
    * under the single-writer contract (stop streams first; a reader in
    * the sub-second delete→rename window fails loudly and retries, the
    * writeStats adjudication).
    *
    * Coverage is enforced over LIVE rows only: every non-tombstoned row
    * must have a meta match — a missing match would land NULL metadata
    * that filtered probes silently drop, the exact seam the
    * `_meta_cols` contract exists to close. Tombstoned rows take meta
    * when present and NULL otherwise (they are ledger-hidden and the
    * purge removes them). */
  private[operators] def backfillTableMetaCols(spark: SparkSession,
      indexRoot: String, table: String, meta: org.apache.spark.sql.DataFrame,
      joinCol: String, metaCols: Seq[String], level1: String = "cell"): Boolean = {
    import org.apache.spark.sql.functions.col
    val live = new Path(s"$indexRoot/$table")
    val fs = fsOf(spark, live)
    val aside = new Path(s"$indexRoot/${table}_backfill")
    if (recoverAside(fs, aside, live).exists(_.startsWith("installed"))) {
      bumpEpoch(fs, live)
      invalidateGuards(live.toString)
    }
    require(fs.exists(live), s"no $table table at $indexRoot — nothing to backfill")
    requireReadConsistent(fs, live)
    val current = spark.read.parquet(live.toString)
    if (metaCols.forall(current.columns.contains)) return false
    val overlap = metaCols.filter(current.columns.contains)
    require(overlap.isEmpty,
      s"$table at $indexRoot already carries ${overlap.mkString(", ")} but not " +
        s"the full requested set — a partial overlap cannot be joined cleanly; " +
        "backfill the missing columns alone")
    // live-row coverage: one NARROW id-column pass + join, before any
    // destructive step; the ledger is joined distributed, so an index
    // past the probes' driver-rows cap can still be backfilled
    val ledgerIds = ledger(spark, indexRoot)
      .map(_.select(col("id").as(joinCol)))
    val liveIds = ledgerIds.foldLeft(current.select(joinCol))(
      (d, l) => d.join(l, Seq(joinCol), "left_anti"))
    val uncovered = liveIds
      .join(meta.select(joinCol), Seq(joinCol), "left_anti")
      .limit(3).collect()
    require(uncovered.isEmpty,
      s"metadata frame does not cover every live row of $table at $indexRoot " +
        s"(e.g. id ${uncovered.head.get(0)}) — uncovered rows would land NULL " +
        "metadata and filtered probes would silently drop them. Cover every " +
        "live id (tombstoned ids are exempt).")
    current.join(meta, Seq(joinCol), "left")
      .write.mode("overwrite").partitionBy(level1, "ingest_batch")
      .parquet(aside.toString)
    fs.delete(live, true)
    require(fs.rename(aside, live), s"could not publish backfilled $live")
    bumpEpoch(fs, live)
    invalidateGuards(live.toString)
    true
  }

  /** Order-independent fingerprint of a frame's distinct `id` set —
    * (count, xor of per-id hashes). Decides whether an incoming manual
    * batch IS the retry of an orphan lane (same id set) or a different
    * batch; decisive because every family's append contract requires
    * batch ids to be NEW to the index. */
  private[operators] def idSetFingerprint(ids: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = ids.distinct().agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("id"))), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Fold every `0 ≤ ingest_batch ≤ committed` leaf of `tablePath` into
    * its `ingest_batch=-1` layer. `spread` is the caller's bounded
    * cell-aligned exchange ([[Similarity.cellSpread]] with its nlist).
    * Returns false when there was nothing to fold. Single-writer
    * contract: no concurrent append to this table. */
  def foldCommitted(spark: SparkSession, tablePath: String, committed: Long,
      spread: DataFrame => DataFrame, level1: String = "cell"): Boolean = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    require(fs.exists(table), s"no index table at $table")
    // from here this fold may create debris — memoized append guards on
    // this path must re-look on their next call, crash or no crash
    invalidateGuards(tablePath)
    requireNoDebris(fs, table)

    // batch-sized listing: only first-level dirs' leaf NAMES are
    // enumerated, and only matching leaves are handed to the read below
    // (basePath keeps the partition columns) — the resident -1 leaves
    // are never listed into the scan. `level1` is the family's
    // first-level partition column (ANN cells; lexical term buckets).
    val leafRels: Seq[String] = for {
      cellDir <- fs.listStatus(table).toSeq
      if cellDir.isDirectory && cellDir.getPath.getName.startsWith(s"$level1=")
      leaf <- fs.listStatus(cellDir.getPath).toSeq
      if leaf.isDirectory && leaf.getPath.getName.startsWith("ingest_batch=")
      b = leaf.getPath.getName.stripPrefix("ingest_batch=").toLong
      if b >= 0 && b <= committed
    } yield s"${cellDir.getPath.getName}/${leaf.getPath.getName}"
    if (leafRels.isEmpty) return false

    val tmp = foldTmp(table)
    fs.delete(tmp, true)
    val df = spark.read.option("basePath", tablePath)
      .parquet(leafRels.map(r => s"$tablePath/$r"): _*)
    spread(df.drop("ingest_batch"))
      .write.mode("overwrite").partitionBy(level1).parquet(tmp.toString)

    // enumerate the fold output and its exact destinations; the fold
    // prefix keys file names to this fold's watermark (uniqueness comes
    // from the part-file UUIDs; recovery comes from the marker list)
    val moves: Seq[(Path, String)] = enumerateTmp(fs, tmp, level1).map {
      case (src, cellName, f) =>
        (src, s"$cellName/ingest_batch=-1/fold$committed-$f")
    }

    writeMarker(fs, markerScratch(table), stagedMarker(table),
      moves.map { case (_, rel) => s"F $rel" } ++ leafRels.map(r => s"D $r"))
    moves.foreach { case (src, rel) =>
      val dst = new Path(table, rel)
      fs.mkdirs(dst.getParent)
      require(fs.rename(src, dst), s"fold: could not move $src to $dst")
    }
    maybeFail("before-commit")
    require(fs.rename(stagedMarker(table), commitMarker(table)),
      s"fold: could not commit ${stagedMarker(table)}")
    maybeFail("before-cleanup")
    leafRels.foreach(r => fs.delete(new Path(table, r), true))
    fs.delete(tmp, true)
    bumpEpoch(fs, table) // before the marker clears: readers see one or the other
    fs.delete(commitMarker(table), false)
    true
  }

  /** The marker-staged resident-layer rewrite behind resident
    * compaction ([[Family.compactResident]]) and the delete purges:
    * select cells whose `-1` file count exceeds `minFilesExclusive`
    * (0 = every non-empty cell), run their rows through `transform`
    * (identity for a compaction; the tombstone anti-join for a purge),
    * re-spread, and swap the files in.
    *
    * As a compaction it is the minor compaction that bounds
    * resident-file accrual for STATIONARY streams: [[foldCommitted]]
    * adds ≤ spread-bound files per cell per fold and its documented
    * flattening remedy is a rebuild, justified by "the drift trigger has
    * usually asked for one by then" — but a stationary corpus (the
    * common ingest case) never drifts, so a year-long ingest at
    * `compactEvery=N` accrues folds × bound files per cell with only an
    * O(corpus + retraining) rebuild as remedy that nothing ever demands.
    * This is the batch-priced answer: it reads and rewrites ONLY the
    * selected cells' resident files — other cells' files are never
    * read, never listed into the scan, never touched — so cost scales
    * with the accrued cells' data, not the index.
    *
    * Same marker protocol as the fold (`_fold_staged`/`_fold_commit`,
    * with `DF <file>` delete-file entries next to the fold's
    * `D <leaf-dir>` entries), so every existing guard — writer debris
    * refusal, reader marker-window wait, [[recover]] rollback/forward —
    * covers it with no new states: a crash before commit rolls BACK
    * (delete the staged replacement files; the originals were never
    * touched), after commit rolls FORWARD (delete the listed originals;
    * every replacement is in place by construction). Single-writer
    * contract, like the fold. Returns the number of cells rewritten. */
  private[operators] def rewriteResident(spark: SparkSession, tablePath: String,
      minFilesExclusive: Int, transform: DataFrame => DataFrame,
      spread: DataFrame => DataFrame, level1: String = "cell"): Int = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    require(fs.exists(table), s"no index table at $table")
    invalidateGuards(tablePath)
    requireNoDebris(fs, table)

    // accrual-sized listing: every cell's -1 leaf is LISTED (that is the
    // accrual metric), but only selected cells' files enter the scan
    val overBound: Seq[(String, Seq[String])] = (for {
      cellDir <- fs.listStatus(table).toSeq
      if cellDir.isDirectory && cellDir.getPath.getName.startsWith(s"$level1=")
      resident = new Path(cellDir.getPath, "ingest_batch=-1")
      if fs.exists(resident)
      files = fs.listStatus(resident).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      if files.size > minFilesExclusive
    } yield cellDir.getPath.getName ->
      files.map(f => s"${cellDir.getPath.getName}/ingest_batch=-1/${f.getPath.getName}"))
    if (overBound.isEmpty) return 0
    val oldFileRels = overBound.flatMap(_._2)

    val tmp = foldTmp(table)
    fs.delete(tmp, true)
    val df = spark.read.option("basePath", tablePath)
      .parquet(oldFileRels.map(r => s"$tablePath/$r"): _*)
    spread(transform(df.drop("ingest_batch")))
      .write.mode("overwrite").partitionBy(level1).parquet(tmp.toString)

    // `rc-` keys replacement files to this compaction (uniqueness from
    // the part-file UUIDs; recovery from the marker list, as the fold)
    val moves: Seq[(Path, String)] = enumerateTmp(fs, tmp, level1).map { case (src, cellName, f) =>
      (src, s"$cellName/ingest_batch=-1/rc-$f")
    }
    writeMarker(fs, markerScratch(table), stagedMarker(table),
      moves.map { case (_, rel) => s"F $rel" } ++ oldFileRels.map(r => s"DF $r"))
    moves.foreach { case (src, rel) =>
      val dst = new Path(table, rel)
      fs.mkdirs(dst.getParent)
      require(fs.rename(src, dst), s"compact-resident: could not move $src to $dst")
    }
    maybeFail("before-commit")
    require(fs.rename(stagedMarker(table), commitMarker(table)),
      s"compact-resident: could not commit ${stagedMarker(table)}")
    maybeFail("before-cleanup")
    oldFileRels.foreach(r => fs.delete(new Path(table, r), false))
    fs.delete(tmp, true)
    bumpEpoch(fs, table) // before the marker clears: readers see one or the other
    fs.delete(commitMarker(table), false)
    overBound.size
  }

  private def enumerateTmp(fs: FileSystem, tmp: Path,
      level1: String): Seq[(Path, String, String)] =
    for {
      cellDir <- fs.listStatus(tmp).toSeq
      if cellDir.isDirectory && cellDir.getPath.getName.startsWith(s"$level1=")
      f <- fs.listStatus(cellDir.getPath).toSeq
      if f.isFile && f.getPath.getName.endsWith(".parquet")
    } yield (f.getPath, cellDir.getPath.getName, f.getPath.getName)

  /** Deterministic crash recovery for [[foldCommitted]] and
    * [[rewriteResident]] (and for the pre-r15 rename-swap's debris).
    * Idempotent; safe to call on a clean table (returns None). Returns a
    * human-readable account of what was repaired. */
  def recover(spark: SparkSession, tablePath: String): Option[String] = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    invalidateGuards(tablePath) // recovery changes on-disk state
    val commit = commitMarker(table)
    val staged = stagedMarker(table)
    if (fs.exists(commit)) {
      // every fold/replacement file is in place (the marker renames only
      // after all moves) — finish: delete the listed leaf dirs (fold)
      // and original files (resident compaction) + staging
      val lines = readMarker(fs, commit)
      val dirs = lines.collect { case s if s.startsWith("D ") => s.drop(2) }
      val files = lines.collect { case s if s.startsWith("DF ") => s.drop(3) }
      dirs.foreach(r => fs.delete(new Path(table, r), true))
      files.foreach(r => fs.delete(new Path(table, r), false))
      fs.delete(foldTmp(table), true)
      bumpEpoch(fs, table)
      fs.delete(commit, false)
      Some(s"rolled FORWARD an interrupted maintenance op on $table " +
        s"(deleted ${dirs.size} already-folded leaf dirs, " +
        s"${files.size} already-replaced resident files)")
    } else if (fs.exists(staged)) {
      // originals all intact — undo the fold: delete whatever fold
      // files were already moved in, plus staging
      val files = readMarker(fs, staged).collect { case s if s.startsWith("F ") =>
        s.drop(2) }
      files.foreach(r => fs.delete(new Path(table, r), false))
      fs.delete(foldTmp(table), true)
      bumpEpoch(fs, table)
      fs.delete(staged, false)
      Some(s"rolled BACK an interrupted fold of $table " +
        s"(removed ${files.size} staged fold files; originals intact)")
    } else if (fs.exists(markerScratch(table)) || fs.exists(foldTmp(table))) {
      // crashed before the staged marker existed: nothing was moved
      fs.delete(markerScratch(table), false)
      fs.delete(foldTmp(table), true)
      Some(s"removed pre-stage fold scratch of $table (nothing had moved)")
    } else recoverLegacySwap(fs, table)
  }

  /** Recovery for the r14 rename-swap protocol's crash states, so an
    * index left broken by the OLD code heals instead of the advisor's
    * worst case (a later compact deleting the stranded original). */
  private def recoverLegacySwap(fs: FileSystem, table: Path): Option[String] = {
    val old = legacyOld(table)
    val tmp = legacyTmp(table)
    val tmpComplete = fs.exists(new Path(tmp, "_SUCCESS"))
    if (!fs.exists(old) && !fs.exists(tmp)) None
    else if (!fs.exists(table) && fs.exists(old)) {
      // the fatal window: live table renamed aside, replacement not in
      if (tmpComplete) {
        require(fs.rename(tmp, table), s"legacy recover: could not move $tmp to $table")
        fs.delete(old, true)
        Some(s"legacy swap: installed the complete staged table at $table, removed the old copy")
      } else {
        require(fs.rename(old, table), s"legacy recover: could not move $old back to $table")
        fs.delete(tmp, true)
        Some(s"legacy swap: restored $table from its renamed-aside copy")
      }
    } else {
      // live table present: staging/aside copies are residue
      fs.delete(tmp, true)
      fs.delete(old, true)
      Some(s"legacy swap: removed stale staging dirs beside $table")
    }
  }

  private[operators] def writeMarker(fs: FileSystem, scratch: Path, dest: Path,
      lines: Seq[String]): Unit = {
    val out = fs.create(scratch, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(scratch, dest), s"could not publish marker $dest")
  }

  private[operators] def readMarker(fs: FileSystem, marker: Path): Seq[String] = {
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** One driver-side FS walk over `tablePath`: 1 + cells + leaves LIST
    * calls, no data read, no Spark job. Note this is MORE listing than a
    * fold pays (a fold enumerates only batch leaves; this also lists
    * every resident `-1` leaf's files, since the accrual metric lives
    * there) — trivial on HDFS-likes, but on a rate-limited object store
    * poll it at maintenance cadence, not per query. Gated like any
    * reader: a live fold's marker window delays it; crash debris fails
    * with the remedy. */
  def layoutStats(spark: SparkSession, tablePath: String,
      level1: String = "cell"): IndexLayoutStats = {
    val table = new Path(tablePath)
    val fs = fsOf(spark, table)
    require(fs.exists(table), s"no index table at $table")
    requireReadConsistent(fs, table)
    var cells = 0; var batchLeaves = 0; var maxBatchId = -1L
    var residentFiles = 0L; var maxResident = 0; var batchFiles = 0L
    for {
      cellDir <- fs.listStatus(table)
      if cellDir.isDirectory && cellDir.getPath.getName.startsWith(s"$level1=")
    } {
      cells += 1
      for {
        leaf <- fs.listStatus(cellDir.getPath)
        if leaf.isDirectory && leaf.getPath.getName.startsWith("ingest_batch=")
      } {
        val b = leaf.getPath.getName.stripPrefix("ingest_batch=").toLong
        val n = fs.listStatus(leaf.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (b < 0) {
          residentFiles += n
          if (n > maxResident) maxResident = n
        } else {
          batchLeaves += 1
          batchFiles += n
          if (b > maxBatchId) maxBatchId = b
        }
      }
    }
    IndexLayoutStats(cells, batchLeaves, maxBatchId, residentFiles, maxResident, batchFiles)
  }

  /** The shared advice rule over one table's [[IndexLayoutStats]] — see
    * [[MaintenanceAdvice]] for the precedence contract. `residentBound`
    * is the per-cell `-1` file threshold ([[residentBound]]);
    * `foldLeavesPerCell` is how many unfolded batches' worth of leaves
    * to tolerate;
    * `pendingTombstones` is the family's count of deleted ids not yet
    * physically purged (0 when deletion is unused), advised against
    * `maxTombstones` — the default 100 000 sits where the measured
    * trade flips (SCALE.md 17d: a 210 K-id ledger adds ~0.3-0.4 s of
    * broadcast anti-join to every probe vs a 37-89 s one-time purge —
    * amortized after ~100-250 queries). Purge sits BELOW fold in the
    * precedence; `unfoldedTombstones` (r18) is the PRECISE fold-first
    * signal — whether any tombstoned id still has rows in an unfolded
    * lane ([[tombstonesUnfolded]], computed by the family only when
    * pending is over threshold). r17 used batchLeaves > 0 as the proxy,
    * which a live stream never clears (its current batch is always
    * unfolded), so the purge advice could never fire in-stream. */
  private def advise(layout: IndexLayoutStats,
      driftTripped: Boolean, residentBound: Int,
      foldLeavesPerCell: Int, pendingTombstones: Long,
      maxTombstones: Long, unfoldedTombstones: Boolean): MaintenanceAdvice = {
    val foldThreshold = foldLeavesPerCell.toLong * layout.cells
    if (driftTripped) MaintenanceAdvice("rebuild",
      "the drift verdict tripped — retrain on the current corpus " +
        "(a rebuild re-lays-out too, subsuming both compactions)", layout)
    else if (layout.batchLeaves > foldThreshold) MaintenanceAdvice("fold",
      s"${layout.batchLeaves} unfolded batch leaves exceed the tolerated " +
        s"$foldThreshold ($foldLeavesPerCell per cell x ${layout.cells} cells) — " +
        "every unfolded leaf is a directory every reader must list", layout)
    else if (pendingTombstones > maxTombstones)
      // the purge requires the TOMBSTONED rows to be folded (a deleted
      // row in an unfolded lane would survive it) — fold first exactly
      // when that is the case, not whenever any leaf exists
      if (unfoldedTombstones) MaintenanceAdvice("fold",
        s"$pendingTombstones tombstoned ids await physical removal " +
          s"(> $maxTombstones) and some still have rows in unfolded " +
          "batch lanes — fold past them first", layout)
      else MaintenanceAdvice("purge-deletes",
        s"$pendingTombstones tombstoned ids await physical removal " +
          s"(> $maxTombstones) — every probe pays their broadcast " +
          "anti-join; their rows are all folded, so the purge can run now", layout)
    else if (layout.maxResidentFilesPerCell > residentBound)
      MaintenanceAdvice("compact-resident",
        s"a cell carries ${layout.maxResidentFilesPerCell} resident files " +
          s"(bound $residentBound) — fold-file accrual; rewrite just the " +
          "over-bound cells", layout)
    else MaintenanceAdvice("none",
      s"layout healthy: ${layout.batchLeaves} batch leaves (<= $foldThreshold), " +
        s"max ${layout.maxResidentFilesPerCell} resident files/cell " +
        s"(<= $residentBound), ${pendingTombstones} pending tombstones " +
        s"(<= $maxTombstones), drift quiet", layout)
  }

  // every guard instance, so fold/recover can invalidate a table's memo
  // across index families without knowing which guard owns it
  private val allGuards =
    new java.util.concurrent.ConcurrentLinkedQueue[TwoLevelLayoutGuard]()
  private def invalidateGuards(tablePath: String): Unit =
    allGuards.forEach(_.invalidate(tablePath))

  /** Memoizing two-level-layout + debris guard, one instance per index
    * family. The layout verdict cannot change once passed (every writer
    * emits the two-level layout), so a streaming ingest pays ONE FS
    * check per (JVM, path); a FAILED check is never cached — the remedy
    * changes on-disk state, so a retry must re-look. Debris is checked
    * inside the same memoized visit, which is sound because the memo is
    * INVALIDATED whenever this JVM starts a fold or a recovery on the
    * path (debris can only appear via this JVM's own fold — the single
    * writer — or via a crash, which empties the memo with the JVM):
    * the next append after any fold re-checks and refuses on leftovers
    * instead of appending around them. */
  private[graft] final class TwoLevelLayoutGuard(rebuildRemedy: String) {
    private val verified = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    private val checks = new java.util.concurrent.atomic.AtomicLong(0)
    private[graft] def count: Long = checks.get()
    private[graft] def reset(): Unit = { verified.clear(); checks.set(0) }
    private[IndexMaintenance] def invalidate(tablePath: String): Unit =
      verified.remove(tablePath)
    allGuards.add(this)

    def require(spark: SparkSession, tablePath: String,
        level1: String = "cell"): Unit = {
      if (verified.contains(tablePath)) return
      checks.incrementAndGet()
      val table = new Path(tablePath)
      val fs = fsOf(spark, table)
      requireNoDebris(fs, table)
      val oldLayout = fs.exists(table) && fs.listStatus(table)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$level1="))
        .exists(d => fs.listStatus(d.getPath)
          .exists(c => c.isFile && c.getPath.getName.endsWith(".parquet")))
      if (oldLayout) throw new IllegalStateException(
        s"index table at $tablePath uses the flat partitionBy($level1) layout; " +
          "appending batch-keyed rows would mix partition depths and break " +
          s"partition discovery. $rebuildRemedy")
      verified.add(tablePath)
    }
  }

  // ---------------------------------------------------------------------
  // The LIFECYCLE — every maintenance op of every index family, once.
  // ---------------------------------------------------------------------

  /** The per-cell `-1` file threshold a resident compaction flattens
    * against. Must be AT LEAST the spread the rewrite itself produces —
    * a threshold below it would rewrite the same cells forever without
    * ever getting them under bound — so an explicit `maxFilesPerCell`
    * is validated against the effective spread. */
  private def residentBound(spark: SparkSession, nlist: Int,
      maxFilesPerCell: Int, spreadFiles: Int): Int = {
    val spread = if (spreadFiles > 0) spreadFiles
      else Similarity.cellSpreadBound(spark, nlist)
    if (maxFilesPerCell <= 0) 2 * spread
    else {
      require(maxFilesPerCell >= spread,
        s"maxFilesPerCell ($maxFilesPerCell) is below the rewrite's own " +
          s"per-cell fan-out ($spread files) — compaction could never " +
          "converge; raise the threshold or pin spreadFiles lower")
      maxFilesPerCell
    }
  }

  /** The layout a family is advised on: the table worst on both accrual
    * signals when one is, else the per-field maximum. Tables normally
    * move together; a divergence means a crash landed between two table
    * writes or folds, and the worse side is the one needing the remedy. */
  private def worstLayout(ls: Seq[IndexLayoutStats]): IndexLayoutStats =
    ls.find(a => ls.forall(b => a.batchLeaves >= b.batchLeaves &&
        a.maxResidentFilesPerCell >= b.maxResidentFilesPerCell))
      .getOrElse(IndexLayoutStats(ls.map(_.cells).max, ls.map(_.batchLeaves).max,
        ls.map(_.maxBatchId).max, ls.map(_.residentFiles).max,
        ls.map(_.maxResidentFilesPerCell).max, ls.map(_.batchFiles).max))

  /** What a recover repaired, joined; None when it found nothing. */
  private[operators] def report(msgs: Seq[String]): Option[String] =
    if (msgs.isEmpty) None else Some(msgs.mkString("; "))

  /** One persisted index family: its `tables` under the index path,
    * their first-level partition column `level1` (`cell` | `bucket`),
    * the id column the tables carry, where the first-level count comes
    * from ([[cells]]: the centroids' nlist, or the BM25 stats row's
    * bucket count) and the rebuild remedy its layout guard names.
    *
    * Each op below is the family's public maintenance entry point,
    * implemented once over `tables` in order. IVF is the one-table case
    * (`corpus`); IVFPQ writes `codes` before `vectors`, so a crash
    * between two tables leaves the later one behind — benign for folds,
    * compactions and purge rewrites (answers never change under them;
    * the next call completes the lagging table) and resolved by the
    * manual-lane rule for appends. BM25 (`postings`, level1 `bucket`)
    * overrides the ops that also touch what is its own — the stats row
    * and its stats-watermark manual lane, the doclen sidecar, the ledger
    * fold inside its purge — around these table ops. Single-writer
    * contract throughout: no concurrent append during maintenance
    * (in-stream maintenance runs on the ingest thread). */
  private[graft] abstract class Family[R](val tables: Seq[String],
      val level1: String, val idCol: String, rebuildRemedy: String) {
    import org.apache.spark.sql.functions.{col, count, count_distinct, lit}

    /** The first-level partition count (nlist, or BM25 buckets). */
    def cells(spark: SparkSession, path: String): Int

    /** The routing data's dirs under the index path, each with the
      * schema its rows are stored with, in the order [[decodeRouting]]
      * takes their rows. */
    protected def routingDirs: Seq[(String, StructType)]

    /** The routing data from its dirs' rows (in [[routingDirs]] order). */
    protected def decodeRouting(rows: Seq[Array[Row]]): R

    /** The routing data of the index at `path` (IVF centroids, IVFPQ
      * centroids + model, the BM25 stats row) from the index snapshot:
      * revalidated against the routing files on every call, no Spark job
      * while they are unchanged. Shared — callers must not mutate it. */
    def routing(spark: SparkSession, path: String): R = routingAndKey(spark, path)._2

    /** [[routing]] with an opaque key: equal keys mean the same files. */
    private[operators] def routingAndKey(spark: SparkSession, path: String): (Any, R) = {
      val root = new Path(path)
      val fs = fsOf(spark, root)
      val ck: (AnyRef, String) = (this, qualified(fs, path))
      val dirs = routingDirs.map { case (d, s) => (new Path(root, d), s) }
      withRelist { () =>
        val gen = snapshotGeneration.get()
        val files = dirs.map { case (d, _) => committedFiles(fs, d) }
        routings.get(ck) match {
          case Some(r) if r.files == files =>
            snapshotReuses.incrementAndGet()
            (files, r.data.asInstanceOf[R])
          case _ =>
            snapshotReloads.incrementAndGet()
            val data = decodeRouting(dirs.zip(files).map { case ((d, s), fk) =>
              // no committed file: read the dir itself, so a missing index
              // fails the way a cold read of it always did
              val src = if (fk.isEmpty) Seq(d.toString)
                else fk.toSeq.map(f => new Path(d, f._1).toString)
              spark.read.schema(s).parquet(src: _*).collect()
            })
            if (files.forall(_.nonEmpty) && snapshotGeneration.get() == gen)
              routings.put(ck, new Routing(files, data))
            (files, data)
        }
      }
    }

    /** Write-through: this writer just published `data` at the routing
      * dirs (single-writer contract), so the next call reuses it instead
      * of reading the files back. */
    private[operators] final def rememberRouting(spark: SparkSession, path: String,
        data: R): Unit = {
      val root = new Path(path)
      val fs = fsOf(spark, root)
      val files = routingDirs.map { case (d, _) => committedFiles(fs, new Path(root, d)) }
      if (files.forall(_.nonEmpty))
        routings.put((this, qualified(fs, path)), new Routing(files, data))
    }

    /** The stored schema of `table` at `path` from the index snapshot,
      * keyed on the `_meta_cols` file's status: no Spark job while it is
      * unchanged, one schema-inference job per table after a build or a
      * backfill. Builds and backfills write `_meta_cols` both before and
      * after their tables, so a schema inferred mid-rewrite — by this
      * driver or another one reading the same index — is cached under a
      * key that the finished rewrite replaces. */
    def schemaOf(spark: SparkSession, path: String, table: String): StructType = {
      val root = new Path(path)
      val fs = fsOf(spark, root)
      val ck: (AnyRef, String) = (this, qualified(fs, path))
      val gen = snapshotGeneration.get()
      val mc = fileKey(fs, metaColsFile(root))
      schemas.get(ck) match {
        case Some(s) if s.metaCols == mc =>
          snapshotReuses.incrementAndGet()
          s.byTable(table)
        case _ =>
          snapshotReloads.incrementAndGet()
          val byTable = tablePaths(path).map { tp =>
            tp.getName -> consistentListing(fs, tp)(spark.read.parquet(tp.toString).schema)
          }.toMap
          if (snapshotGeneration.get() == gen) schemas.put(ck, new Schemas(mc, byTable))
          byTable(table)
      }
    }

    /** `table` as a probe reads it: its file listing captured under the
      * snapshot gate ([[consistentListing]] — a folded batch can never
      * be visible twice), its schema known ([[schemaOf]]), so no
      * inference job runs. */
    def readTable(spark: SparkSession, path: String, table: String): DataFrame = {
      val s = schemaOf(spark, path, table)
      val tp = new Path(s"$path/$table")
      consistentListing(fsOf(spark, tp), tp)(spark.read.schema(s).parquet(s"$path/$table"))
    }

    /** Memoized layout + debris guard over every table; its counters are
      * the families' `layoutChecksCount` / `resetLayoutCheckCache`
      * test seams. */
    private[graft] val guard = new TwoLevelLayoutGuard(rebuildRemedy)

    private def tablePaths(path: String): Seq[Path] =
      tables.map(t => new Path(s"$path/$t"))

    /** The bounded, first-level-aligned write exchange
      * ([[Similarity.cellSpread]]) every write of this family uses. */
    def spread(nlist: Int, spreadFiles: Int): DataFrame => DataFrame =
      Similarity.cellSpread(_, nlist, idCol, spreadFiles, level1)

    /** Refuse, before any append or backfill, a table in the flat
      * pre-two-level `partitionBy(level1)` layout (appending would mix
      * partition depths and break partition discovery with an
      * unrelated-looking error) or carrying unrecovered fold debris.
      * Memoized per (JVM, table) — see [[TwoLevelLayoutGuard]]. */
    def requireLayout(spark: SparkSession, path: String): Unit =
      tables.foreach(t => guard.require(spark, s"$path/$t", level1))

    /** Fold every `0 <= ingest_batch <= committedBatchId` leaf of every
      * table into its resident `-1` layer ([[foldCommitted]] —
      * batch-priced, resident files untouched). Pass only a
      * checkpoint-COMMITTED batch id: a keyed append's exactly-once
      * replay overwrites its own leaves, so folding a batch that could
      * still replay would duplicate it. Manual lanes (ids >=
      * [[ManualLaneFloor]]) fold only when the watermark passes them —
      * do that only when no retry of them can follow. */
    def fold(spark: SparkSession, path: String, committedBatchId: Long,
        spreadFiles: Int = 0): Unit = {
      val spr = spread(cells(spark, path), spreadFiles)
      tables.foreach(t => foldCommitted(spark, s"$path/$t", committedBatchId, spr, level1))
    }

    /** Minor compaction of every table's resident layer: rewrite only
      * the cells whose `-1` file count exceeds `maxFilesPerCell` (0 = 2×
      * the spread bound — one fold's accrual tolerated) back under the
      * bound ([[rewriteResident]]). Returns cells compacted per table. */
    def compactResident(spark: SparkSession, path: String,
        maxFilesPerCell: Int = 0, spreadFiles: Int = 0): Seq[Int] = {
      val nlist = cells(spark, path)
      val bound = residentBound(spark, nlist, maxFilesPerCell, spreadFiles)
      tables.map(t => rewriteResident(spark, s"$path/$t", bound, identity,
        spread(nlist, spreadFiles), level1))
    }

    /** [[layoutStats]] of every table, in table order. */
    def layouts(spark: SparkSession, path: String): Seq[IndexLayoutStats] =
      tables.map(t => layoutStats(spark, s"$path/$t", level1))

    /** Deleted ids not yet physically purged — a distributed count. */
    def pendingTombstones(spark: SparkSession, path: String): Long =
      ledger(spark, path).map(_.select("id").distinct().count()).getOrElse(0L)

    /** One recommendation ([[MaintenanceAdvice]]) from the worst table's
      * layout, the caller's drift verdict, the pending tombstones and —
      * only when those are over `maxTombstones` — whether any still has
      * rows in an unfolded lane (fold before purge). Layout-stats-priced
      * plus one distributed ledger count when a ledger exists. */
    def advice(spark: SparkSession, path: String, driftTripped: Boolean = false,
        maxFilesPerCell: Int = 0, foldLeavesPerCell: Int = 2, spreadFiles: Int = 0,
        maxTombstones: Long = 100000L): MaintenanceAdvice = {
      val pending = pendingTombstones(spark, path)
      val unfolded = pending > maxTombstones &&
        ledger(spark, path).exists(tombstonesUnfoldedIn(spark, path, _))
      advise(worstLayout(layouts(spark, path)), driftTripped,
        residentBound(spark, cells(spark, path), maxFilesPerCell, spreadFiles),
        foldLeavesPerCell, pending, maxTombstones, unfolded)
    }

    private def tombstonesUnfoldedIn(spark: SparkSession, path: String,
        tombstones: DataFrame): Boolean =
      tables.exists(t => tombstonesUnfolded(spark, s"$path/$t", tombstones, idCol, level1))

    /** Tombstone `ids` (column `idColumn`): one tiny ledger append — no
      * index rewrite, crash-safe by construction (the append lands or it
      * doesn't; the ledger dedups a re-append). Probes anti-join the
      * ledger from the next query on; [[purge]] reclaims the bytes. */
    def delete(ids: DataFrame, path: String, idColumn: String): Unit = {
      val d = ids.select(col(idColumn).as("id")).distinct()
      d.coalesce(1).write.mode("append").parquet(deletesDir(path))
      rememberLedgerSchema(ids.sparkSession, path, d.schema)
    }

    /** Physically remove tombstoned rows from every table, then clear the
      * ledger. Probes stay correct throughout — before the rewrite the
      * anti-join hides the rows, after it they are gone; a crash before
      * the clear leaves a no-op anti-join. Returns cells rewritten per
      * table (all 0 without a ledger). */
    def purge(spark: SparkSession, path: String, spreadFiles: Int = 0): Seq[Int] =
      ledger(spark, path) match {
        case None => tables.map(_ => 0)
        case Some(d) =>
          val n = purgeTables(spark, path, d, spreadFiles)
          clearDeletes(spark, path)
          n
      }

    /** The table half of a purge: refuse while a TOMBSTONED row sits in
      * an unfolded lane (the rewrite covers only the resident layer, so
      * it would survive and resurface once the ledger retired — the
      * precise gate, [[tombstonesUnfolded]]), then rewrite each table's
      * resident layer with the tombstones anti-joined out. A table with
      * no tombstoned row (a rerun after a crash between the rewrite and
      * the ledger retire) costs one read-only semi-join probe instead of
      * a rewrite. The ledger is joined distributed, never collected. */
    protected final def purgeTables(spark: SparkSession, path: String,
        tombstones: DataFrame, spreadFiles: Int): Seq[Int] = {
      require(!tombstonesUnfoldedIn(spark, path, tombstones),
        s"index at $path has tombstoned rows in unfolded batch lanes — fold " +
          "past them first (compact the index at a covering watermark): a " +
          "deleted row in an unfolded lane would survive the purge and " +
          "resurface once the ledger retired")
      val ids = tombstones.select(col("id").as(idCol))
      lazy val spr = spread(cells(spark, path), spreadFiles)
      tables.map { t =>
        val matches = spark.read.parquet(s"$path/$t")
          .join(ids, Seq(idCol), "left_semi").limit(1).count()
        if (matches == 0) 0
        else rewriteResident(spark, s"$path/$t", 0,
          _.join(ids, Seq(idCol), "left_anti"), spr, level1)
      }
    }

    /** Deterministic crash recovery: roll each table's interrupted
      * maintenance op back or forward ([[IndexMaintenance.recover]]),
      * then settle the orphan manual lanes. Recovery and retry are
      * ALTERNATIVE remedies — an adopted batch is in the index, so do
      * not retry it. Idempotent; None when clean. */
    def recover(spark: SparkSession, path: String): Option[String] =
      report(recoverTables(spark, path) ++ settleManualLanes(spark, path))

    protected final def recoverTables(spark: SparkSession, path: String): Seq[String] =
      tables.flatMap(t => IndexMaintenance.recover(spark, s"$path/$t"))

    // The manual-lane watermark file lives on the FIRST table: it is
    // written first, so a lane that reached any table reached it.
    private def watermarkTable(path: String) = new Path(s"$path/${tables.head}")

    /** Each table's orphan manual lanes — lanes above the watermark `w`.
      * One FS walk per table. */
    def orphanLanes(spark: SparkSession, path: String, w: Long): Seq[Set[Long]] =
      tablePaths(path).map(p => manualLanes(fsOf(spark, p), p, w, level1).toSet)

    private def dropLane(fs: FileSystem, path: String, lane: Long): Unit =
      tables.foreach(t => deleteLane(fs, new Path(s"$path/$t"), lane, level1))

    /** The manual-lane rule for orphans (lanes above the watermark — an
      * append that wrote and never advanced it): a lane present in EVERY
      * table fully landed and is adopted (the watermark advances past
      * it; its rows are already probe-visible); a lane missing from some
      * table never landed — its call never returned success — and is
      * deleted, so retrying that batch lands it whole. */
    private def settleManualLanes(spark: SparkSession, path: String): Seq[String] = {
      val head = watermarkTable(path)
      val fs = fsOf(spark, head)
      val byTable = orphanLanes(spark, path, readManualWatermark(fs, head))
      val (complete, half) = byTable.flatten.distinct.sorted
        .partition(l => byTable.forall(_(l)))
      half.foreach(dropLane(fs, path, _))
      if (complete.nonEmpty) writeManualWatermark(fs, head, complete.max)
      (if (complete.isEmpty) Nil
      else Seq(s"adopted ${complete.size} fully-landed manual append(s) at $path " +
        s"(lanes ${complete.mkString(",")}) — their rows are already " +
        "index-visible; do NOT retry those batches")) ++
        (if (half.isEmpty) Nil
        else Seq(s"deleted ${half.size} half-landed manual lane(s) at $path " +
          s"(lanes ${half.mkString(",")}) — those batches never landed; " +
          "retry them to land them whole"))
    }

    /** The lane a keyless append writes. No orphan: the next lane. With
      * orphans, EVERY one is fingerprinted against the batch's id set
      * (r18 — two crashed appends then a retry of either must find its
      * OWN lane): a match IS the documented retry and reuses that lane
      * (a half-landed one heals, the write overwrites what landed and
      * writes what didn't); half-landed lanes below it are deleted first
      * (the final watermark advance would otherwise commit them with a
      * table missing), complete ones below it adopt through that advance,
      * lanes above it stay for the next call. No match: the operator
      * moved on, so the orphans settle and the batch takes a fresh lane. */
    private def manualLane(spark: SparkSession, path: String,
        batchIds: DataFrame): Long = {
      val head = watermarkTable(path)
      val fs = fsOf(spark, head)
      val w = readManualWatermark(fs, head)
      val byTable = orphanLanes(spark, path, w)
      if (byTable.forall(_.isEmpty)) return w + 1
      retryLane(spark, path, byTable, batchIds) match {
        case Some(l) =>
          byTable.flatten.distinct.filter(o => o < l && !byTable.forall(_(o)))
            .foreach(dropLane(fs, path, _))
          l
        case None =>
          settleManualLanes(spark, path)
          readManualWatermark(fs, head) + 1
      }
    }

    /** The orphan lane (lowest first) holding exactly the batch's id set
      * — the documented retry — by [[idSetFingerprint]], read from a
      * table that has the lane; None when the batch is a different one.
      * Decisive because batch ids must be NEW to the index, so two
      * distinct batches cannot share an id set. `byTable` is
      * [[orphanLanes]]. */
    def retryLane(spark: SparkSession, path: String, byTable: Seq[Set[Long]],
        batchIds: DataFrame): Option[Long] = {
      val batchFp = idSetFingerprint(batchIds)
      byTable.flatten.distinct.sorted.find { l =>
        val t = s"$path/${tables(byTable.indexWhere(_(l)))}"
        idSetFingerprint(spark.read.option("basePath", t).parquet(t)
          .filter(col("ingest_batch") === l).select(col(idCol).as("id"))) == batchFp
      }
    }

    /** The keyless append, RETRY-IDEMPOTENT: the guards, then `write`
      * lands the batch under its manual lane (ids from
      * [[ManualLaneFloor]] up, disjoint from foreachBatch ids) by
      * dynamic partition overwrite, and the watermark advances only
      * AFTER the write — a failed append retried with the same batch
      * reuses its lane and overwrites its own leaves, so a row can never
      * land twice. `batchIds` is the batch's `id` column; batch ids must
      * be NEW to the index. */
    def appendManual(batchIds: DataFrame, path: String,
        metaCols: Seq[String])(write: Long => Unit): Unit = {
      val spark = batchIds.sparkSession
      requireLayout(spark, path)
      requireSameMetaCols(spark, path, metaCols)
      requireNotTombstoned(spark, path, batchIds)
      val lane = manualLane(spark, path, batchIds)
      write(lane)
      val head = watermarkTable(path)
      writeManualWatermark(fsOf(spark, head), head, lane)
    }

    /** A keyed (foreachBatch) batch id must be >= 0 (-1 marks resident
      * rows, which a replay must never overwrite) and below
      * [[ManualLaneFloor]]; the tables must pass [[requireLayout]]. */
    def requireKeyedLane(spark: SparkSession, path: String, batchId: Long): Unit = {
      require(batchId >= 0, s"batchId must be >= 0 (got $batchId): -1 marks resident rows")
      require(batchId < ManualLaneFloor,
        s"batchId $batchId is in the manual-append lane (>= $ManualLaneFloor); " +
          "that lane belongs to the keyless append")
      requireLayout(spark, path)
    }

    /** Every guard before a keyed (replay-idempotent) append: the lane,
      * the layout, the metadata contract, and the tombstone refusal —
      * with the committed-replay escape (r18): a re-delivered batch whose
      * write (even partially) landed is a harmless self-overwrite the
      * ledger already hides, and refusing it would throw on every
      * restart so the stream could never progress. */
    def requireKeyedAppend(batchIds: DataFrame, path: String, batchId: Long,
        metaCols: Seq[String]): Unit = {
      val spark = batchIds.sparkSession
      requireKeyedLane(spark, path, batchId)
      requireSameMetaCols(spark, path, metaCols)
      requireNotTombstoned(spark, path, batchIds,
        isCommittedReplay = () => laneLanded(spark, path, batchId))
    }

    /** Whether any table holds a leaf of `lane` ([[laneExists]]). */
    def laneLanded(spark: SparkSession, path: String, lane: Long): Boolean =
      tablePaths(path).exists(p => laneExists(fsOf(spark, p), p, lane, level1))

    /** The rows a rebuild starts from: `table` with the tombstones
      * anti-joined out (distributed) — the rebuild IS the ledger reset,
      * so without the filter it would resurrect every deleted row. Every
      * table is gated like any reader, and the rebuild refuses while the
      * tables' batch layers diverge: a writer that crashed between two
      * table writes left a batch some tables lack, and rebuilding from
      * `table` then could omit it permanently once readers flip. */
    def liveRows(spark: SparkSession, path: String, table: String): DataFrame = {
      val ls = layouts(spark, path)
      if (ls.map(l => (l.batchLeaves, l.maxBatchId)).distinct.size > 1)
        throw new IllegalStateException(
          s"index at $path has diverged batch layers: " +
            tables.zip(ls).map { case (t, l) =>
              s"$t has ${l.batchLeaves} batch leaves (maxBatchId ${l.maxBatchId})"
            }.mkString(" vs ") +
            ". A writer crashed between two table writes or folds; rebuilding " +
            s"from $table now could permanently omit a batch it lacks. Remedy: " +
            "resume the ingest stream so the interrupted batch replays (keyed " +
            "appends overwrite their own leaves), retry the interrupted manual " +
            "append (it reuses its lane and heals), or rerun the fold at the " +
            "committed batch id to complete an interrupted fold — then rebuild " +
            "once the layouts agree.")
      val rows = spark.read.parquet(s"$path/$table")
      ledger(spark, path).fold(rows)(d =>
        rows.join(d.select(col("id").as(idCol)), Seq(idCol), "left_anti"))
    }

    /** Backfill METADATA columns onto every table (r19): the id-keyed
      * column-join upgrade for filtered search, instead of a full
      * rebuild. `meta` holds ONE row per id (column `metaIdCol`) covering
      * every live row. Ordering is deliberate:
      *  1. [[requireLayout]] on every table — a flat pre-two-level table
      *     cannot be rewritten into the two-level layout, so it refuses
      *     with the rebuild remedy before anything is written;
      *  2. STAGE the meta frame to `<index>/_backfill_meta` and validate
      *     one-row-per-id on the staged copy — the caller's plan executes
      *     exactly ONCE (a frame derived from the index's own tables
      *     would otherwise die when the first table swap invalidates its
      *     captured listing — observed at 20 M; and a non-deterministic
      *     frame could pass validation yet join different rows);
      *  3. write `_meta_cols` (the union) BEFORE the table rewrites: a
      *     crash between rewrite and contract write would otherwise let a
      *     meta-less append PASS the contract and land rows whose new
      *     metadata reads as NULL — silently dropped by filtered probes.
      *     Contract-first makes every post-crash failure LOUD instead:
      *     appends must carry the union, and the rerun completes the
      *     rewrites. A clash with stored columns is therefore legal
      *     exactly when it is our own interrupted upgrade — some table
      *     still missing the clashed columns — and refused otherwise.
      * Table rewrites are per-table resumable ([[backfillTableMetaCols]]
      * skips a table already carrying every column). Returns true when
      * rows were rewritten. */
    def backfillMetaCols(spark: SparkSession, path: String, meta: DataFrame,
        metaIdCol: String, metaCols: Seq[String]): Boolean = {
      requireLayout(spark, path)
      require(metaCols.nonEmpty, "pass the metadata columns to backfill")
      require(meta.columns.contains(metaIdCol) && metaCols.forall(meta.columns.contains),
        s"metadata frame must carry '$metaIdCol' and ${metaCols.mkString(", ")}; " +
          s"got ${meta.columns.mkString(", ")}")
      val fs = fsOf(spark, new Path(path))
      val stored = readMetaColsFile(fs, path)
      val clash = metaCols.intersect(stored)
      if (clash.nonEmpty) {
        val unfinished = tables.exists { t =>
          val cols = scala.util.Try(
            spark.read.parquet(s"$path/$t").columns.toSet).getOrElse(Set.empty)
          !clash.forall(cols.contains)
        }
        require(unfinished,
          s"index at $path already stores metaCols [${clash.mkString(", ")}] — " +
            "backfill only ADDS columns; rebuild to change existing ones")
      }
      val scratch = new Path(s"$path/_backfill_meta")
      meta.select(col(metaIdCol).as(idCol) +: metaCols.map(col): _*)
        .write.mode("overwrite").parquet(scratch.toString)
      try {
        val m = spark.read.parquet(scratch.toString)
        val mAgg = m.agg(count(lit(1)), count_distinct(col(idCol))).collect()(0)
        require(mAgg.getLong(0) == mAgg.getLong(1),
          s"metadata frame must hold ONE row per id: ${mAgg.getLong(0)} rows over " +
            s"${mAgg.getLong(1)} distinct ids — a duplicated id would multiply " +
            "index rows through the join")
        val union = (stored ++ metaCols).distinct
        writeMetaColsFile(fs, path, union)
        val rewritten = tables.map(t =>
          backfillTableMetaCols(spark, path, t, m, idCol, metaCols, level1))
          .reduce(_ || _)
        // again after the tables: the snapshot's schema key moves past
        // any schema read while they were rewritten
        writeMetaColsFile(fs, path, union)
        rewritten
      } finally { fs.delete(scratch, true); () }
    }
  }
}

/** One actionable maintenance recommendation, folding the three signals
  * the scaladocs previously told operators to juggle by hand — the
  * drift verdict (when to RETRAIN), batch-leaf accrual (when to FOLD),
  * and resident-file accrual (when to COMPACT the `-1` layer) — into a
  * single precedence-ordered verdict ([[Similarity.maintenanceAdvice]] /
  * [[Pq.maintenanceAdvice]]):
  *
  *  - `rebuild`: the caller's drift verdict tripped. A rebuild retrains
  *    AND flattens, so it subsumes both compactions — nothing else need
  *    run first.
  *  - `fold`: unfolded batch leaves exceed the tolerated accrual
  *    (every unfolded leaf is a directory every reader must list).
  *  - `purge-deletes` (r17): pending tombstones exceed the tolerated
  *    count — every probe pays their broadcast anti-join; below fold
  *    in precedence because the purge requires a folded index anyway.
  *  - `compact-resident`: some cell's `-1` file count exceeds the
  *    bound (fold-file accrual — the stationary-stream signal).
  *  - `none`: healthy.
  *
  * The drift verdict is passed IN (from [[Similarity.shouldRetrain]] /
  * [[Pq.shouldRetrain]], which the streaming shape already evaluates
  * per batch) rather than recomputed here: advice is a layout-stats-
  * priced call — one FS walk, no data read — and drift needs a recent
  * batch only the ingest loop has.
  *
  * @param action  rebuild | fold | compact-resident | none
  * @param reason  the tripped signal, with its measured value and threshold
  * @param layout  the stats the verdict was computed from */
final case class MaintenanceAdvice(action: String, reason: String,
  layout: IndexLayoutStats)

/** Layout health of one two-level index table — the operational twin of
  * the DISTRIBUTION health the drift monitors report: drift says when to
  * RETRAIN ([[Similarity.shouldRetrain]] / [[Pq.shouldRetrain]]); these
  * say when to FOLD (batch-leaf accrual from a streamed ingest — every
  * unfolded leaf is a directory every reader must list) and how much
  * fold-file accrual the `-1` layer carries (each fold adds at most one
  * spread-bound of files per cell — [[Similarity.cellSpreadBound]]; a
  * rebuild flattens it back to one).
  *
  * @param cells          cell directories present
  * @param batchLeaves    `ingest_batch >= 0` leaf dirs (unfolded batches
  *                       × their cells) — what a fold removes
  * @param maxBatchId     highest batch key on disk (-1 = none)
  * @param residentFiles  data files in the `-1` layer across all cells
  * @param maxResidentFilesPerCell  the accrual metric: a build writes at
  *                       most the spread bound here; each fold may add
  *                       another bound's worth
  * @param batchFiles     data files still under batch leaves
  */
final case class IndexLayoutStats(cells: Int, batchLeaves: Int,
  maxBatchId: Long, residentFiles: Long, maxResidentFilesPerCell: Int,
  batchFiles: Long)
