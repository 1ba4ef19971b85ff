package graft.runtime

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.{DedupConfig, DedupPipeline}

/** Per-partition checkpointed, idempotently-resumable pipeline runs with
  * lineage + metrics tables.
  *
  * Mirrors the reference's durable-state design: a checkpoint is written
  * atomically *after* a step completes (`recap/tasks/base.py:119-120`),
  * completed phases are skipped on resume (`base.py:140-161`), and run
  * metrics (docs in/out, clusters, duplicates, elapsed) mirror
  * `IngestionRunRecord` (`ingestion/models.py:211-227`).
  *
  * Here the unit of work is a day partition of the pages table (the
  * reference's daily stores, `ingestion/repository.py:77-109`). Layout:
  *
  *   <root>/output/day=YYYY-MM-DD/   cluster assignments parquet
  *   <root>/checkpoints/             append-only checkpoint rows
  *   <root>/metrics/                 append-only per-partition metrics
  *
  * A partition is "done" iff a checkpoint row with status=COMPLETED and the
  * same config hash exists. Resume = anti-join of planned days against done
  * days (SURVEY §2.4 J6). Output writes are idempotent (overwrite per
  * partition directory); the checkpoint row is committed only after the
  * output write returns, so a crash between the two re-processes that
  * partition into an identical overwrite — exactly-once observable effect.
  */
object Checkpoint {

  final case class RunMetrics(
      day: String, configHash: String, nDocsIn: Long, nClustered: Long,
      nClusters: Long, nDuplicatesRemoved: Long, elapsedMs: Long,
      inputFingerprint: Long, status: String, startedAtMs: Long)

  def configHash(cfg: DedupConfig): String = {
    val s = s"${cfg.shingleK}|${cfg.numHashes}|${cfg.bands}|${cfg.threshold}|${cfg.maxGroupSize}|${cfg.seed}|" +
      s"${cfg.simhashPregateMaxHamming}|${cfg.simhash128PregateMaxHamming}|${cfg.exactPrecollapse}|${cfg.maxBucketSize}|${cfg.lcsMinRatio}"
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def completedDays(spark: SparkSession, root: String, cfgHash: String): Set[String] = {
    val dir = new java.io.File(s"$root/checkpoints")
    if (!dir.exists() || dir.listFiles().forall(f => f.getName.startsWith("_") || f.getName.startsWith("."))) return Set.empty
    spark.read.parquet(s"$root/checkpoints")
      .filter(col("status") === "COMPLETED" && col("configHash") === cfgHash)
      .select("day").distinct().collect().map(_.getString(0)).toSet
  }

  /** Retention GC (reference `storage/io.py:66-91`): drop output day
    * partitions and their checkpoint/metrics rows strictly older than
    * `cutoffDay` (lexicographic yyyy-MM-dd compare, as the reference does).
    * Returns the deleted day keys.
    */
  def gc(spark: SparkSession, root: String, cutoffDay: String): Seq[String] = {
    import spark.implicits._
    val outDir = new java.io.File(s"$root/output")
    val victims = Option(outDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .filter(_.getName.stripPrefix("day=") < cutoffDay)
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(): Unit
    }
    victims.foreach(rmTree)
    // rewrite the small bookkeeping tables without the dropped days
    Seq("checkpoints", "metrics").foreach { t =>
      val dir = new java.io.File(s"$root/$t")
      if (dir.exists()) {
        val kept = spark.read.parquet(dir.toString)
          .filter(col("day") >= cutoffDay).collect()
        val schema = spark.read.parquet(dir.toString).schema
        rmTree(dir)
        spark.createDataFrame(java.util.Arrays.asList(kept: _*), schema)
          .write.parquet(dir.toString)
      }
    }
    victims.map(_.getName.stripPrefix("day=")).toSeq.sorted
  }

  // ------------------------------------------------------------------
  // Single-writer lock + heartbeat (reference `ingestion/repository.py`:
  // start_run refuses a second concurrent RUNNING run per source
  // (:151-175), stale RUNNING runs are auto-failed (:126-149), touch_run
  // heartbeats per page (:177-183)).
  //
  // The lock is a file created atomically (POSIX O_EXCL via
  // Files.createFile) under <root>/locks/, keyed by (root, configHash):
  // driver-side mutual exclusion, exactly the granularity the reference
  // locks at. A lock whose heartbeat is older than `staleTtlMs` is reaped:
  // a STALE_FAILED row is appended to <root>/runs and the lock replaced.
  // (On an object store without atomic create, swap this for a
  // conditional-put — the call sites don't change.)
  // ------------------------------------------------------------------

  final case class LockInfo(runId: String, acquiredAtMs: Long, heartbeatAtMs: Long)

  private def lockPath(root: String, cfgHash: String) =
    java.nio.file.Paths.get(s"$root/locks/$cfgHash.lock")

  private def readLock(root: String, cfgHash: String): Option[LockInfo] = {
    val p = lockPath(root, cfgHash)
    if (!java.nio.file.Files.exists(p)) None
    else java.nio.file.Files.readString(p).split('|') match {
      case Array(id, acq, hb) => Some(LockInfo(id, acq.toLong, hb.toLong))
      case _ => None
    }
  }

  /** Atomically create `p` WITH its content in one step (hard-link trick:
    * write a unique sibling, then `createLink` — link(2) is atomic
    * create-if-absent, so no other process can ever observe `p` existing
    * but empty). A crash between a plain createFile and the content write
    * would otherwise leave an unparseable empty lock/lease that blocks all
    * workers forever (round-3 review finding). Returns false if `p` already
    * exists (lost the race). Falls back to create-then-write on filesystems
    * without hard links — there the mtime-TTL reap path below covers the
    * torn-create window.
    */
  private def atomicCreateWithContent(p: java.nio.file.Path, content: String): Boolean = {
    val tmp = p.resolveSibling(s".${p.getFileName}.new.${java.util.UUID.randomUUID()}")
    java.nio.file.Files.writeString(tmp, content)
    try { java.nio.file.Files.createLink(p, tmp); true }
    catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        try {
          java.nio.file.Files.createFile(p)
          java.nio.file.Files.writeString(p, content)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally { java.nio.file.Files.deleteIfExists(tmp): Unit }
  }

  /** File mtime in ms, or None if it vanished concurrently. */
  private def mtimeMs(p: java.nio.file.Path): Option[Long] =
    try Some(java.nio.file.Files.getLastModifiedTime(p).toMillis)
    catch { case _: java.io.IOException => None }

  /** Acquire the single-writer lock or throw. A stale lock (heartbeat older
    * than `staleTtlMs`) is auto-failed first, mirroring the reference's
    * stale-RUNNING recovery. Returns the new run id.
    */
  def acquireLock(spark: SparkSession, root: String, cfgHash: String,
                  staleTtlMs: Long, nowMs: Long = System.currentTimeMillis()): String = {
    val p = lockPath(root, cfgHash)
    java.nio.file.Files.createDirectories(p.getParent)
    // raw content + parsed form: an UNPARSEABLE lock (torn create on a
    // no-hardlink filesystem) must not block forever — it goes stale by
    // file mtime instead of by heartbeat.
    val raw: Option[String] =
      if (!java.nio.file.Files.exists(p)) None
      else try Some(java.nio.file.Files.readString(p))
      catch { case _: java.io.IOException => None } // concurrently reaped
    raw.foreach { content =>
      val held = content.split('|') match {
        case Array(id, acq, hb) => Some(LockInfo(id, acq.toLong, hb.toLong))
        case _ => None
      }
      val fresh = held match {
        case Some(info) => nowMs - info.heartbeatAtMs <= staleTtlMs
        case None => mtimeMs(p).exists(m => nowMs - m <= staleTtlMs)
      }
      if (fresh)
        throw new IllegalStateException(
          s"another run is already active for this root/config " +
            held.map(i => s"(runId=${i.runId}, heartbeat ${nowMs - i.heartbeatAtMs} ms ago)")
              .getOrElse("(unparseable lock, recent mtime)"))
      // stale: reap ATOMICALLY — move the lock file aside to a unique reap
      // name first. ATOMIC_MOVE guarantees exactly one of N concurrent
      // reapers wins the move; a plain delete+create lets reaper B delete
      // the lock reaper A just created (TOCTOU double-writer). Only the
      // winner appends STALE_FAILED (reference repository.py:126-149).
      //
      // Re-read IMMEDIATELY before the move: this thread's `raw` read may
      // be arbitrarily old (descheduled thread), and a winner's FRESH lock
      // may have replaced the stale one since. Moving that fresh lock
      // aside — even transiently, for the content check below — opens a
      // lock-absent window in which a third acquirer's create succeeds,
      // dispossessing the winner (observed as a 2-winner flake in
      // Round3Spec's 8-thread reap race). With the re-read, a steal
      // requires the fresh create to land inside the read→move syscall
      // gap; the restore/DISPOSSESSED path below remains the backstop.
      val reaped = p.resolveSibling(
        s"${p.getFileName}.reaped.${java.util.UUID.randomUUID()}")
      try {
        val cur = java.nio.file.Files.readString(p)
        if (cur != content)
          throw new IllegalStateException(
            "lock changed during stale reap; another run is active")
        java.nio.file.Files.move(p, reaped,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // verify we moved the lock we READ — if the content changed, a
        // concurrent winner already reaped + recreated it and we just stole
        // a FRESH lock; put it back and refuse.
        val moved = java.nio.file.Files.readString(reaped)
        if (moved != content) {
          try java.nio.file.Files.move(reaped, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException =>
            // a third acquirer created a new lock meanwhile, so the FRESH
            // lock we stole cannot be restored: its owner has been
            // dispossessed. SURFACE that in the runs table (the owner's
            // next heartbeat also throws on the runId mismatch, stopping
            // it) instead of silently opening a two-writer window.
            moved.split('|') match {
              case Array(id, acq, _) =>
                appendRunRow(spark, root, id, cfgHash, "DISPOSSESSED",
                  acq.toLong, nowMs,
                  "Fresh lock displaced during concurrent stale-reap race; owner must stop at next heartbeat.")
              case _ => ()
            }
            java.nio.file.Files.deleteIfExists(reaped): Unit
          }
          throw new IllegalStateException(
            "lock changed during stale reap; another run is active")
        }
        held.foreach { info =>
          appendRunRow(spark, root, info.runId, cfgHash, "STALE_FAILED",
            info.acquiredAtMs, nowMs, "Auto-recovered stale running run after crash/interruption.")
        }
        java.nio.file.Files.deleteIfExists(reaped): Unit
      } catch {
        case _: java.nio.file.NoSuchFileException => // another reaper won; fall
        // through to the atomic create below, which decides the new owner
      }
    }
    val runId = java.util.UUID.randomUUID().toString
    // create WITH content in one atomic step — no observable empty-lock state
    if (!atomicCreateWithContent(p, s"$runId|$nowMs|$nowMs"))
      throw new IllegalStateException("another run acquired the lock concurrently")
    appendRunRow(spark, root, runId, cfgHash, "RUNNING", nowMs, 0L, "")
    runId
  }

  /** Per-partition liveness signal (reference touch_run). THROWS if the
    * lock now names a different run — this run was dispossessed (reaped as
    * stale, or displaced in a reap race) and must stop instead of running
    * concurrently with the new owner. A MISSING lock is a no-op (transient
    * reap-in-flight window; the next heartbeat resolves it) — the caller's
    * committed work stays safe because output writes are idempotent per
    * partition.
    */
  def heartbeat(root: String, cfgHash: String, runId: String,
                nowMs: Long = System.currentTimeMillis()): Unit =
    readLock(root, cfgHash).foreach { held =>
      if (held.runId != runId)
        throw new IllegalStateException(
          s"run $runId was dispossessed: lock now held by ${held.runId}; stopping")
      heartbeatPublish(lockPath(root, cfgHash), runId, held.acquiredAtMs, nowMs)
    }

  /** CAS publish step of [[heartbeat]], separated so the read-vs-publish
    * race is deterministically testable. A blind REPLACE_EXISTING write here
    * would re-open the race this recovery exists to close: between the
    * caller's read and the write, a concurrent acquirer can reap this lock
    * as stale and create its OWN — a replace would then overwrite the new
    * owner's lock with the stale run's id, dispossessing the legitimate
    * owner while the stale run survives. Instead:
    *
    *   1. move the lock aside atomically (exactly one mover wins; a missing
    *      lock means a reap is in flight — no-op, next heartbeat resolves);
    *   2. verify the moved content still carries THIS runId — if not, we
    *      stole the new owner's lock in the race: restore it byte-identical
    *      and throw (this run stops; the owner is untouched);
    *   3. publish the refreshed copy with createLink (atomic
    *      create-if-absent): if any acquirer slipped a new lock into the
    *      empty window, the link fails and THIS run throws — the window
    *      never has two writers.
    */
  private[graft] def heartbeatPublish(p: java.nio.file.Path, runId: String,
                                        acquiredAtMs: Long, nowMs: Long): Unit = {
    val aside = p.resolveSibling(
      s"${p.getFileName}.hb.${java.util.UUID.randomUUID()}")
    try java.nio.file.Files.move(p, aside,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.NoSuchFileException => return }
    def dispossessed() = new IllegalStateException(
      s"run $runId was dispossessed during heartbeat; stopping")
    val moved = try java.nio.file.Files.readString(aside)
                catch { case _: java.io.IOException => "" }
    if (!moved.startsWith(s"$runId|")) {
      try java.nio.file.Files.move(aside, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        java.nio.file.Files.deleteIfExists(aside): Unit }
      throw dispossessed()
    }
    val published = atomicCreateWithContent(p, s"$runId|$acquiredAtMs|$nowMs")
    java.nio.file.Files.deleteIfExists(aside)
    if (!published) throw dispossessed()
  }

  def releaseLock(spark: SparkSession, root: String, cfgHash: String, runId: String,
                  status: String = "COMPLETED", error: String = ""): Unit =
    readLock(root, cfgHash).filter(_.runId == runId).foreach { held =>
      appendRunRow(spark, root, runId, cfgHash, status, held.acquiredAtMs,
        System.currentTimeMillis(), error)
      java.nio.file.Files.deleteIfExists(lockPath(root, cfgHash)): Unit
    }

  /** Concurrency-safe append of a small bookkeeping DataFrame into `dir`.
    *
    * The Hadoop committer is NOT safe for concurrent appends to one
    * directory: simultaneous jobs share `<dir>/_temporary/0` and one job
    * deletes it under the other. All bookkeeping tables (runs, gaps,
    * metrics, checkpoints) may be appended by concurrent workers (lock
    * contention rows, per-day lease workers), so every append writes to a
    * unique scratch dir and MOVES the part files in — rename is atomic and
    * readers only ever see whole files.
    */
  private def atomicAppend(df: DataFrame, root: String, table: String): Unit = {
    val dir = java.nio.file.Paths.get(root, table)
    val tmp = java.nio.file.Paths.get(root, s".$table-tmp-${java.util.UUID.randomUUID()}")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    java.nio.file.Files.createDirectories(dir)
    val parts = java.nio.file.Files.list(tmp).iterator()
    while (parts.hasNext) {
      val p = parts.next()
      if (p.getFileName.toString.endsWith(".parquet"))
        java.nio.file.Files.move(p, dir.resolve(
          s"part-${java.util.UUID.randomUUID()}.parquet")): Unit
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
    }
    rm(tmp.toFile)
  }

  private def appendRunRow(spark: SparkSession, root: String, runId: String,
                           cfgHash: String, status: String, startedAtMs: Long,
                           finishedAtMs: Long, error: String): Unit = {
    import spark.implicits._
    atomicAppend(
      Seq((runId, cfgHash, status, startedAtMs, finishedAtMs, error))
        .toDF("runId", "configHash", "status", "startedAtMs", "finishedAtMs", "errorSummary"),
      root, "runs")
  }

  /** Lifecycle rows of all runs (append-only; latest row per runId wins). */
  def runs(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dir = new java.io.File(s"$root/runs")
    if (!dir.exists()) return spark.emptyDataFrame
    val w = Window.partitionBy(col("runId"))
      .orderBy(col("finishedAtMs").desc, col("status").desc)
    spark.read.parquet(dir.toString)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // ------------------------------------------------------------------
  // Per-day lease rows: N concurrent drivers drain DISJOINT days of one
  // root/config. A lease is an atomically-created file keyed by (cfgHash,
  // day); a worker that fails to create it skips the day (another worker
  // owns it). Stale leases (older than the TTL — a crashed worker) are
  // reaped with the same ATOMIC_MOVE + content-verify dance as the global
  // lock. Complements the global single-writer lock: use the global lock
  // for one-writer-per-config, or day leases for cooperating workers.
  // ------------------------------------------------------------------

  private def dayLeasePath(root: String, cfgHash: String, day: String) =
    java.nio.file.Paths.get(s"$root/locks/days/$cfgHash/$day.lease")

  /** Try to take the lease for `day`; true iff this run now owns it. */
  def tryAcquireDayLease(root: String, cfgHash: String, day: String,
                         runId: String, staleTtlMs: Long,
                         nowMs: Long = System.currentTimeMillis()): Boolean = {
    val p = dayLeasePath(root, cfgHash, day)
    java.nio.file.Files.createDirectories(p.getParent)
    if (java.nio.file.Files.exists(p)) {
      val content = try java.nio.file.Files.readString(p) catch {
        case _: java.io.IOException => return false // concurrently reaped
      }
      // staleness: by acquisition time when parseable; by file mtime when
      // not (a torn create on a no-hardlink filesystem must not block the
      // day forever)
      val stale = content.split('|') match {
        case Array(_, acq) => nowMs - acq.toLong > staleTtlMs
        case _ => mtimeMs(p).exists(m => nowMs - m > staleTtlMs)
      }
      if (!stale) return false // held and fresh
      // stale: exactly one reaper wins the move; verify we moved what
      // we read (not a fresh lease that raced in). Re-read immediately
      // before the move — same stale-read steal window as the global
      // lock's reap (see acquireLock): without it a descheduled reaper
      // can move a fresh lease aside and let a third worker double-own
      // the day for the restore interval.
      val reaped = p.resolveSibling(
        s"${p.getFileName}.reaped.${java.util.UUID.randomUUID()}")
      try {
        if (java.nio.file.Files.readString(p) != content) return false
        java.nio.file.Files.move(p, reaped,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        if (java.nio.file.Files.readString(reaped) != content) {
          try java.nio.file.Files.move(reaped, p,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.nio.file.FileAlreadyExistsException =>
            // a third worker's create landed first, so the FRESH lease we
            // stole cannot be restored: its owner is dispossessed for the
            // rest of its day. Mirror acquireLock's DISPOSSESSED surfacing
            // (no runs table at this layer — a marker file next to the
            // lease records who lost it, and releaseDayLease's
            // content-verify keeps the loser from deleting the winner's
            // lease afterwards; round-5 ADVICE).
            val marker = p.resolveSibling(s"${p.getFileName}.dispossessed")
            try java.nio.file.Files.writeString(marker,
              java.nio.file.Files.readString(reaped))
            catch { case _: java.io.IOException => }
            System.err.println(
              s"[checkpoint] day-lease dispossession: $p (owner lease moved aside during concurrent stale-reap; marker written)")
            java.nio.file.Files.deleteIfExists(reaped): Unit }
          return false
        }
        java.nio.file.Files.deleteIfExists(reaped): Unit
      } catch { case _: java.nio.file.NoSuchFileException => }
    }
    // create WITH content in one atomic step — a crash can no longer leave
    // an empty lease that permanently blocks the day (round-3 finding)
    atomicCreateWithContent(p, s"$runId|$nowMs")
  }

  def releaseDayLease(root: String, cfgHash: String, day: String, runId: String): Unit = {
    val p = dayLeasePath(root, cfgHash, day)
    try {
      if (java.nio.file.Files.exists(p) &&
          java.nio.file.Files.readString(p).startsWith(s"$runId|"))
        java.nio.file.Files.deleteIfExists(p): Unit
    } catch { case _: java.io.IOException => }
  }

  // ------------------------------------------------------------------
  // Gap / retry ledger (reference `fetch_service.py:43-62` seeds each run
  // with open gaps first; `repository.py:371-404` records gaps with
  // retry_after). A failed day partition appends an OPEN gap row with a
  // retry-after timestamp; the next run drains eligible gap days before
  // fresh days. A gap is implicitly resolved by the day's COMPLETED
  // checkpoint (append-only tables, no rewrites).
  // ------------------------------------------------------------------

  def recordGap(spark: SparkSession, root: String, day: String, cfgHash: String,
                error: String, retryAfterMs: Long): Unit = {
    import spark.implicits._
    atomicAppend(
      Seq((day, cfgHash, error, retryAfterMs, System.currentTimeMillis()))
        .toDF("day", "configHash", "errorSummary", "retryAfterMs", "createdAtMs"),
      root, "gaps")
  }

  /** Open gap days with their effective retry time: has a gap row, no
    * COMPLETED checkpoint; the LATEST gap row's retryAfterMs wins (later
    * failures push the retry out).
    */
  private def openGaps(spark: SparkSession, root: String,
                       cfgHash: String): Seq[(String, Long)] = {
    val dir = new java.io.File(s"$root/gaps")
    if (!dir.exists()) return Seq.empty
    val done = completedDays(spark, root, cfgHash)
    spark.read.parquet(dir.toString)
      .filter(col("configHash") === cfgHash)
      .groupBy(col("day"))
      .agg(max_by(col("retryAfterMs"), col("createdAtMs")).as("retryAfterMs"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filterNot(r => done(r._1)).sortBy(_._1).toSeq
  }

  /** Open gap days retry-eligible at `nowMs`, oldest first. A day whose
    * retryAfterMs is still in the future is NOT returned — and must not be
    * processed as fresh either (see [[blockedGapDays]]): backoff delays the
    * day, it does not merely reorder it.
    */
  def openGapDays(spark: SparkSession, root: String, cfgHash: String,
                  nowMs: Long = System.currentTimeMillis()): Seq[String] =
    openGaps(spark, root, cfgHash).filter(_._2 <= nowMs).map(_._1)

  /** Open gap days whose backoff has NOT elapsed at `nowMs` — skipped
    * entirely this run.
    */
  def blockedGapDays(spark: SparkSession, root: String, cfgHash: String,
                     nowMs: Long = System.currentTimeMillis()): Seq[String] =
    openGaps(spark, root, cfgHash).filter(_._2 > nowMs).map(_._1)

  // ------------------------------------------------------------------
  // Bookkeeping allocators + usage rollup
  // ------------------------------------------------------------------

  /** Smallest positive id not present (reference digest-index allocation,
    * `recap/pipeline_setup.py:48-71`, which scans for the first free slot).
    * Distributed: candidates = {1} ∪ {id+1} anti-joined against existing
    * ids, take the min — no collect of the id set.
    */
  def smallestFreeId(ids: DataFrame, idCol: String): Long = {
    val existing = ids.select(col(idCol).cast("long").as("id")).filter(col("id") > 0)
    val candidates = existing.select((col("id") + 1).as("cand"))
      .union(ids.sparkSession.range(1, 2).select(col("id").as("cand")))
    val free = candidates.join(existing, candidates("cand") === existing("id"), "left_anti")
      .agg(min(col("cand"))).first()
    if (free.isNullAt(0)) 1L else free.getLong(0)
  }

  /** Next batch id = max + 1 (reference `recap/storage/workdir.py:80-94`). */
  def nextBatchId(ids: DataFrame, idCol: String): Long = {
    val r = ids.agg(max(col(idCol).cast("long"))).first()
    if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
  }

  /** Per-config usage rollup over the metrics table (reference per-phase
    * usage aggregation, `recap/pipeline_setup.py:184-208`).
    */
  def usageRollup(spark: SparkSession, root: String): DataFrame = {
    spark.read.parquet(s"$root/metrics")
      .groupBy(col("configHash"), col("status"))
      .agg(count(lit(1)).as("n_partitions"),
        sum(col("nDocsIn")).as("docs_in"),
        sum(col("nClustered")).as("docs_clustered"),
        sum(col("nClusters")).as("clusters"),
        sum(col("nDuplicatesRemoved")).as("duplicates_removed"),
        sum(col("elapsedMs")).as("elapsed_ms"))
  }

  /** Process every day partition of `pages` not yet checkpointed; returns
    * the list of days processed this run.
    *
    * Ordering: retry-eligible gap days first (oldest first), then fresh
    * days — the reference's backfill-before-fresh drain order.
    *
    * `lockTtlMs > 0` enables the single-writer lock with that staleness
    * TTL. `failAfter` injects a hard crash after N partitions (kill/rerun
    * fixture — no gap row, lock left dangling, exactly like a real crash).
    * `failDays` injects a per-day processing failure that exercises the
    * soft path: gap row recorded, remaining days continue.
    *
    * `failAfter` and `maxParallelDays > 1` are mutually exclusive BY
    * DESIGN, not by implementation accident: "crash after exactly N
    * completed partitions" is only a well-defined program state in a
    * sequential drain. Under a parallel drain the completion order is
    * nondeterministic, so the same `failAfter` value would leave a
    * different (and unreproducible) set of committed days each run —
    * useless as a kill/rerun fixture and misleading as a recovery test.
    * Callers that want parallel-drain failure coverage use `failDays`
    * (deterministic per-day soft failures) instead.
    */
  def runIncremental(spark: SparkSession, pages: DataFrame, root: String,
                     cfg: DedupConfig = DedupConfig(),
                     failAfter: Int = Int.MaxValue,
                     lockTtlMs: Long = 0L,
                     retryBackoffMs: Long = 0L,
                     failDays: Set[String] = Set.empty,
                     dayLeaseTtlMs: Long = 0L,
                     maxParallelDays: Int = 1): Seq[String] = {
    require(maxParallelDays == 1 || failAfter == Int.MaxValue,
      "failAfter crash injection is defined for sequential drains only")
    val cfgHash = configHash(cfg)
    val sc = spark.sparkContext
    // each day's jobs are labelled `checkpoint: <day>`; the caller's label is
    // restored on exit (the sequential drain runs on the caller's thread)
    val callerDescription = sc.getLocalProperty("spark.job.description")
    val runId =
      if (lockTtlMs > 0) acquireLock(spark, root, cfgHash, lockTtlMs) else ""
    // day-lease workers need an identity even without the global lock
    val workerId = if (runId.nonEmpty) runId else java.util.UUID.randomUUID().toString

    try {
      val withDay = pages.withColumn("day", Fns.dayKey(col("warc_ts")))
      val allDays = withDay.select("day").distinct().collect().map(_.getString(0)).sorted
      val done = completedDays(spark, root, cfgHash)
      val gapDays = openGapDays(spark, root, cfgHash).filter(allDays.contains)
      // a backed-off gap day is skipped this run entirely — excluded from
      // fresh too, so retryBackoffMs actually delays the retry instead of
      // merely reordering it
      val blocked = blockedGapDays(spark, root, cfgHash).toSet
      val fresh = allDays.filterNot(done).filterNot(gapDays.contains)
        .filterNot(blocked)
      val todo = (gapDays ++ fresh).distinct

      // one day's full drain: lease -> process -> metrics -> checkpoint row
      // (commit point) -> heartbeat. Returns true iff the day COMPLETED.
      // Thread-safe by construction: atomicAppend writes unique scratch
      // dirs, leases/locks are atomic files, and every Spark job here is
      // independent — so N days can drain concurrently inside one driver.
      def processDay(day: String): Boolean = {
        // cooperating-worker mode: skip days another live worker has leased
        val leased = dayLeaseTtlMs <= 0 ||
          tryAcquireDayLease(root, cfgHash, day, workerId, dayLeaseTtlMs)
        val t0 = System.currentTimeMillis()
        sc.setJobDescription(s"checkpoint: $day")
        val completed = if (!leased) false else try {
          if (failDays.contains(day))
            throw new RuntimeException(s"injected day failure for $day")
          val dayPages = withDay.filter(col("day") === day).drop("day")
          // lineage: order-insensitive fingerprint of the partition's input
          // keys (bit_xor, not sum — overflow-free under ANSI mode)
          val in = dayPages.agg(count(lit(1)),
            expr("bit_xor(xxhash64(url, warc_ts))")).first()
          val (nIn, fp) = (in.getLong(0), in.getLong(1))
          val clusters = DedupPipeline.run(spark, dayPages, cfg)
          // cluster_id is a sha1, never null, so countDistinct counts every cluster
          val out = clusters.agg(count(lit(1)), countDistinct(col("cluster_id"))).first()
          val (nClustered, nClusters) = (out.getLong(0), out.getLong(1))
          clusters.write.mode(SaveMode.Overwrite).parquet(s"$root/output/day=$day")
          val m = RunMetrics(day, cfgHash, nIn, nClustered, nClusters,
            nClustered - nClusters, System.currentTimeMillis() - t0, fp,
            "COMPLETED", t0)
          import spark.implicits._
          atomicAppend(Seq(m).toDF(), root, "metrics")
          // checkpoint row LAST — commit point of the partition
          atomicAppend(
            Seq((day, cfgHash, "COMPLETED", System.currentTimeMillis()))
              .toDF("day", "configHash", "status", "committedAtMs"),
            root, "checkpoints")
          true
        } catch {
          case e: Exception =>
            // soft failure: ledger the day with a retry-after and continue;
            // release the lease so another worker may retry the day
            recordGap(spark, root, day, cfgHash, e.getMessage,
              System.currentTimeMillis() + retryBackoffMs)
            if (dayLeaseTtlMs > 0) releaseDayLease(root, cfgHash, day, workerId)
            false
        }
        // on SUCCESS the lease is deliberately kept: it marks the day done
        // for workers whose todo list predates this commit (their stale
        // plan would otherwise re-lease and re-process the day). A kept
        // lease past its TTL is inert — the COMPLETED checkpoint row
        // excludes the day from every future todo.
        if (runId.nonEmpty) heartbeat(root, cfgHash, runId)
        completed
      }

      val out: Seq[String] =
        if (maxParallelDays <= 1) {
          // sequential drain (gap days first — the reference's order)
          var processed = 0
          val acc = scala.collection.mutable.ArrayBuffer[String]()
          todo.foreach { day =>
            if (processed >= failAfter)
              throw new RuntimeException(s"injected failure before partition $day")
            if (processDay(day)) acc += day
            processed += 1
          }
          acc.toSeq
        } else {
          // intra-run day parallelism: independent day jobs submitted from a
          // bounded pool — Spark's scheduler interleaves their stages, so
          // the cluster isn't idle between small day jobs (the reference's
          // bounded parallel task windows, recap/tasks/parallel.py:110-153).
          // Results are reported in drain order regardless of completion
          // order; checkpoints/leases are unchanged (same commit protocol).
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.max(1, math.min(maxParallelDays, math.max(1, todo.size))))
          try {
            val futures = todo.map { day =>
              day -> pool.submit(new java.util.concurrent.Callable[Boolean] {
                def call(): Boolean = processDay(day)
              })
            }
            futures.filter(_._2.get()).map(_._1)
          } finally { pool.shutdown(): Unit }
        }
      if (runId.nonEmpty) releaseLock(spark, root, cfgHash, runId)
      out
    } catch {
      case e: Throwable =>
        // hard abort: mark FAILED if we still hold the lock, then rethrow.
        // (A real kill -9 skips this — that's what the stale TTL reaps.)
        if (runId.nonEmpty)
          releaseLock(spark, root, cfgHash, runId, "FAILED", String.valueOf(e.getMessage))
        throw e
    } finally sc.setJobDescription(callerDescription)
  }
}
