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

  /** The literal `true` fills the slot of a removed, always-on option, so
    * existing roots keep their hash and still resume.
    */
  def configHash(cfg: DedupConfig): String = {
    val s = s"${cfg.shingleK}|${cfg.numHashes}|${cfg.bands}|${cfg.threshold}|${cfg.maxGroupSize}|${cfg.seed}|" +
      s"${cfg.simhashPregateMaxHamming}|${cfg.simhash128PregateMaxHamming}|true|${cfg.maxBucketSize}|${cfg.lcsMinRatio}"
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
  // Lease files: the single-writer run lock and the per-day leases.
  //
  // Both are one file under <root>/locks/ holding `owner|acquiredAtMs|
  // heartbeatAtMs` (day leases written before the heartbeat field hold
  // `owner|acquiredAtMs`). A file is stale when its last timestamp is older
  // than the TTL, or, when its content does not parse (a torn create), when
  // its mtime is. [[LeaseFile]] is the whole protocol; the callers below only
  // map its outcome to their policy. (On an object store without atomic
  // create, swap LeaseFile for a conditional-put; the call sites don't
  // change.)
  // ------------------------------------------------------------------

  final case class LockInfo(runId: String, acquiredAtMs: Long, heartbeatAtMs: Long)

  private object LeaseFile {
    import java.nio.file.{Files, FileAlreadyExistsException, NoSuchFileException, Path}

    /** Outcome of [[take]]. `reaped` is the stale content this caller moved
      * aside before creating (exactly one caller reaps a given stale file);
      * `displaced` is a FRESH owner's content that was moved aside in a reap
      * race and could not be put back, so that owner has lost its file.
      */
    sealed trait Take
    final case class Taken(reaped: Option[String]) extends Take
    final case class Held(content: String) extends Take
    final case class Lost(reaped: Option[String], displaced: Option[String]) extends Take

    /** Outcome of [[moveAside]]. */
    private sealed trait Aside
    private case object Absent extends Aside
    private final case class Removed(content: String) extends Aside
    private final case class Refused(content: String, restored: Boolean) extends Aside

    def parse(content: String): Option[LockInfo] = content.split('|') match {
      case Array(id, acq) => acq.toLongOption.map(a => LockInfo(id, a, a))
      case Array(id, acq, hb) =>
        for (a <- acq.toLongOption; h <- hb.toLongOption) yield LockInfo(id, a, h)
      case _ => None
    }

    def read(p: Path): Option[String] =
      try Some(Files.readString(p)) catch { case _: java.io.IOException => None }

    private def stale(p: Path, content: String, ttlMs: Long, nowMs: Long): Boolean =
      parse(content).map(_.heartbeatAtMs)
        .orElse(try Some(Files.getLastModifiedTime(p).toMillis)
                catch { case _: java.io.IOException => None })
        .forall(t => nowMs - t > ttlMs)

    /** Create `p` WITH its content in one step: write a unique sibling, then
      * `createLink`, which is an atomic create-if-absent, so no process ever
      * sees `p` existing but empty. A crash between a plain create and its
      * write would leave an unparseable file that blocks every worker for a
      * TTL. False if `p` already exists. Filesystems without hard links fall
      * back to create-then-write; the mtime staleness rule reaps a torn file.
      */
    private def create(p: Path, content: String): Boolean = {
      val tmp = p.resolveSibling(s".${p.getFileName}.new.${java.util.UUID.randomUUID()}")
      Files.writeString(tmp, content)
      try { Files.createLink(p, tmp); true }
      catch {
        case _: FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          try { Files.createFile(p); Files.writeString(p, content); true }
          catch { case _: FileAlreadyExistsException => false }
      } finally { Files.deleteIfExists(tmp): Unit }
    }

    /** Remove `p` iff `accept` holds for its content, atomically with
      * respect to every other lease operation.
      *
      * The file is re-read right before the move because the caller's own
      * read may be arbitrarily old: moving a file that has since been
      * replaced by a fresh owner opens a window in which a third taker's
      * create succeeds. The move itself (ATOMIC_MOVE to a unique name) has
      * exactly one winner among concurrent movers, and `accept` is checked
      * again on what was moved. A refused file is put back with a
      * create-if-absent, never a move: a rename would replace a file a third
      * taker created meanwhile. If such a file exists the moved owner has
      * lost its file (`restored = false`).
      */
    private def moveAside(p: Path, accept: String => Boolean): Aside = {
      read(p) match {
        case None => Absent
        case Some(cur) if !accept(cur) => Refused(cur, restored = true)
        case Some(_) =>
          val aside = p.resolveSibling(s"${p.getFileName}.aside.${java.util.UUID.randomUUID()}")
          try Files.move(p, aside, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch { case _: NoSuchFileException => return Absent }
          val moved = read(aside).getOrElse("")
          val out = if (accept(moved)) Removed(moved) else Refused(moved, create(p, moved))
          Files.deleteIfExists(aside)
          out
      }
    }

    /** Take `p` for `owner`: a fresh file of another owner is [[Held]]; a
      * stale one is reaped first; the atomic create decides among racers.
      *
      * Only one taker reaps a given stale file: the one that creates its
      * claim, a sibling named after the stale content. The rest lose
      * without moving `p`. Otherwise a taker that read the stale content
      * just before another reaped it and created a fresh file would move
      * that fresh file aside, and a third taker could create `p` in the gap
      * before it is put back: two takers would both hold `p`. A claim left
      * by a taker that died holding it goes stale like any lease file.
      */
    def take(p: Path, owner: String, ttlMs: Long, nowMs: Long): Take = {
      Files.createDirectories(p.getParent)
      val mine = s"$owner|$nowMs|$nowMs"
      val reaped = read(p) match {
        case None => None
        case Some(cur) if !stale(p, cur, ttlMs, nowMs) => return Held(cur)
        case Some(cur) =>
          val claim = p.resolveSibling(
            s".${p.getFileName}.reap.${java.util.UUID.nameUUIDFromBytes(cur.getBytes("UTF-8"))}")
          val claimed = create(claim, mine) || read(claim).exists(c =>
            stale(claim, c, ttlMs, nowMs) && moveAside(claim, _ == c).isInstanceOf[Removed] &&
              create(claim, mine))
          if (!claimed) return Lost(None, None)
          try moveAside(p, _ == cur) match {
            case Removed(old) => Some(old)
            case Refused(c, restored) => return Lost(None, Option.when(!restored)(c))
            case Absent => None // the owner released it; the create decides
          } finally Files.deleteIfExists(claim): Unit
      }
      if (create(p, mine)) Taken(reaped) else Lost(reaped, None)
    }

    /** Replace `owner`'s file with `content`. False iff `owner` no longer
      * holds it. A blind overwrite would clobber a new owner's file created
      * after a reap; instead the file is moved aside, checked, and the new
      * content published with a create, so a taker that slips into the empty
      * window wins and this owner learns it lost. A missing file is left
      * missing (a reap is in flight; the owner learns its fate next time).
      */
    def refresh(p: Path, owner: String, content: String): Boolean =
      moveAside(p, _.startsWith(s"$owner|")) match {
        case Absent => true
        case Refused(_, _) => false
        case Removed(_) => create(p, content)
      }

    /** Remove `p` iff `owner` still holds it. */
    def release(p: Path, owner: String): Unit =
      moveAside(p, _.startsWith(s"$owner|")): Unit
  }

  private def lockPath(root: String, cfgHash: String) =
    java.nio.file.Paths.get(s"$root/locks/$cfgHash.lock")

  private def readLock(root: String, cfgHash: String): Option[LockInfo] =
    LeaseFile.read(lockPath(root, cfgHash)).flatMap(LeaseFile.parse)

  /** Acquire the single-writer lock (reference `ingestion/repository.py`
    * start_run, :151-175) or throw. The lock is keyed by (root, configHash).
    * A stale lock is auto-failed first (:126-149): exactly one acquirer
    * appends its STALE_FAILED row. Returns the new run id.
    */
  def acquireLock(spark: SparkSession, root: String, cfgHash: String,
                  staleTtlMs: Long, nowMs: Long = System.currentTimeMillis()): String = {
    val runId = java.util.UUID.randomUUID().toString
    def record(status: String, error: String)(old: String): Unit =
      LeaseFile.parse(old).foreach(i =>
        appendRunRow(spark, root, i.runId, cfgHash, status, i.acquiredAtMs, nowMs, error))
    val staleFailed: String => Unit =
      record("STALE_FAILED", "Auto-recovered stale running run after crash/interruption.")
    LeaseFile.take(lockPath(root, cfgHash), runId, staleTtlMs, nowMs) match {
      case LeaseFile.Taken(reaped) =>
        reaped.foreach(staleFailed)
        appendRunRow(spark, root, runId, cfgHash, "RUNNING", nowMs, 0L, "")
        runId
      case LeaseFile.Held(content) =>
        throw new IllegalStateException(
          s"another run is already active for this root/config " +
            LeaseFile.parse(content)
              .map(i => s"(runId=${i.runId}, heartbeat ${nowMs - i.heartbeatAtMs} ms ago)")
              .getOrElse("(unparseable lock, recent mtime)"))
      case LeaseFile.Lost(reaped, displaced) =>
        reaped.foreach(staleFailed)
        // the displaced owner's next heartbeat throws; the row records why
        displaced.foreach(record("DISPOSSESSED",
          "Fresh lock displaced during concurrent stale-reap race; owner must stop at next heartbeat."))
        throw new IllegalStateException("another run acquired the lock concurrently")
    }
  }

  /** Per-partition liveness signal (reference touch_run, :177-183). THROWS if
    * the lock now names a different run: this run was dispossessed and must
    * stop instead of running next to the new owner. A MISSING lock is a
    * no-op (a reap is in flight; the next heartbeat resolves it); committed
    * work stays safe because output writes are idempotent per partition.
    */
  def heartbeat(root: String, cfgHash: String, runId: String,
                nowMs: Long = System.currentTimeMillis()): Unit =
    readLock(root, cfgHash).foreach { held =>
      if (held.runId != runId)
        throw new IllegalStateException(
          s"run $runId was dispossessed: lock now held by ${held.runId}; stopping")
      heartbeatPublish(lockPath(root, cfgHash), runId, held.acquiredAtMs, nowMs)
    }

  /** Publish step of [[heartbeat]], separated so the read-vs-publish race is
    * testable: the lock may change hands between [[heartbeat]]'s read and
    * this write.
    */
  private[graft] def heartbeatPublish(p: java.nio.file.Path, runId: String,
                                        acquiredAtMs: Long, nowMs: Long): Unit =
    if (!LeaseFile.refresh(p, runId, s"$runId|$acquiredAtMs|$nowMs"))
      throw new IllegalStateException(s"run $runId was dispossessed during heartbeat; stopping")

  def releaseLock(spark: SparkSession, root: String, cfgHash: String, runId: String,
                  status: String = "COMPLETED", error: String = ""): Unit =
    readLock(root, cfgHash).filter(_.runId == runId).foreach { held =>
      appendRunRow(spark, root, runId, cfgHash, status, held.acquiredAtMs,
        System.currentTimeMillis(), error)
      LeaseFile.release(lockPath(root, cfgHash), runId)
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
  // Per-day leases: N concurrent drivers drain DISJOINT days of one
  // root/config. A worker that cannot take a day's lease skips the day
  // (another live worker owns it); a crashed worker's lease is reaped after
  // the TTL. Complements the global lock: use the lock for one writer per
  // config, or day leases for cooperating workers.
  // ------------------------------------------------------------------

  private def dayLeasePath(root: String, cfgHash: String, day: String) =
    java.nio.file.Paths.get(s"$root/locks/days/$cfgHash/$day.lease")

  /** Try to take the lease for `day`; true iff this run now owns it. An
    * owner that lost its lease in a reap race is recorded in a
    * `<day>.lease.dispossessed` marker holding its lease content.
    */
  def tryAcquireDayLease(root: String, cfgHash: String, day: String,
                         runId: String, staleTtlMs: Long,
                         nowMs: Long = System.currentTimeMillis()): Boolean = {
    val p = dayLeasePath(root, cfgHash, day)
    LeaseFile.take(p, runId, staleTtlMs, nowMs) match {
      case LeaseFile.Taken(_) => true
      case LeaseFile.Held(_) => false
      case LeaseFile.Lost(_, displaced) =>
        displaced.foreach { c =>
          try java.nio.file.Files.writeString(p.resolveSibling(s"${p.getFileName}.dispossessed"), c)
          catch { case _: java.io.IOException => }
        }
        false
    }
  }

  def releaseDayLease(root: String, cfgHash: String, day: String, runId: String): Unit =
    LeaseFile.release(dayLeasePath(root, cfgHash, day), runId)

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
