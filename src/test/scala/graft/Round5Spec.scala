package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.runtime.Checkpoint

/** Round-5 regression tests: heartbeat CAS (a stale run's heartbeat must
  * never overwrite a new owner's lock — the round-4 ADVICE race), and the
  * runIncremental failAfter/parallel mutual-exclusion contract.
  */
class Round5Spec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "r5").toString

  // ------------------------------------------------------- heartbeat CAS

  test("heartbeatPublish loses the reap race cleanly: new owner's lock " +
    "restored byte-identical, stale run throws") {
    val root = freshRoot()
    val p = java.nio.file.Paths.get(s"$root/locks/cfgcas.lock")
    java.nio.file.Files.createDirectories(p.getParent)
    // Simulate the exact interleaving from the round-4 ADVICE finding:
    // run A read the lock as its own, but BEFORE A's write lands, run B
    // reaps A as stale and creates its own lock. A's publish then runs
    // against a lock that now carries B's content. The old
    // REPLACE_EXISTING write would clobber B (inverting the recovery);
    // the CAS must instead restore B's lock untouched and stop A.
    val bContent = "runB|2000|3000"
    java.nio.file.Files.writeString(p, bContent)
    val ex = intercept[IllegalStateException] {
      Checkpoint.heartbeatPublish(p, "runA", 1000L, 4000L)
    }
    assert(ex.getMessage.contains("dispossessed"))
    assert(java.nio.file.Files.readString(p) == bContent,
      "new owner's lock was not restored byte-identical")
    // no .hb debris left behind
    val debris = java.nio.file.Files.list(p.getParent).iterator()
    var names = List.empty[String]
    while (debris.hasNext) names ::= debris.next().getFileName.toString
    assert(names == List("cfgcas.lock"), s"debris left: $names")
  }

  test("heartbeatPublish on a missing lock is a no-op (reap in flight)") {
    val root = freshRoot()
    val p = java.nio.file.Paths.get(s"$root/locks/cfggone.lock")
    java.nio.file.Files.createDirectories(p.getParent)
    Checkpoint.heartbeatPublish(p, "runA", 1000L, 4000L) // must not throw
    assert(!java.nio.file.Files.exists(p),
      "no-op heartbeat must not resurrect a reaped lock")
  }

  test("a non-owner's release leaves the owner's lock and lease byte-identical") {
    val root = freshRoot()
    val h = "cfgrel"
    val day = "2026-03-01"
    val run = Checkpoint.acquireLock(spark, root, h, staleTtlMs = 60000L)
    assert(Checkpoint.tryAcquireDayLease(root, h, day, "w1", staleTtlMs = 60000L))
    val lock = java.nio.file.Paths.get(s"$root/locks/$h.lock")
    val lease = java.nio.file.Paths.get(s"$root/locks/days/$h/$day.lease")
    val (lockBytes, leaseBytes) =
      (java.nio.file.Files.readString(lock), java.nio.file.Files.readString(lease))
    Checkpoint.releaseLock(spark, root, h, "other-run")
    Checkpoint.releaseDayLease(root, h, day, "w2")
    Checkpoint.releaseDayLease(root, h, day, "w") // a prefix of the owner's id
    assert(java.nio.file.Files.readString(lock) == lockBytes, "owner's lock changed")
    assert(java.nio.file.Files.readString(lease) == leaseBytes, "owner's lease changed")
    def names(dir: java.nio.file.Path): Set[String] = {
      val it = java.nio.file.Files.list(dir).iterator()
      var out = Set.empty[String]
      while (it.hasNext) out += it.next().getFileName.toString
      out
    }
    assert(names(lock.getParent) == Set(s"$h.lock", "days"), "debris next to the lock")
    assert(names(lease.getParent) == Set(s"$day.lease"), "debris next to the lease")
    // the owners' own releases still remove their files
    Checkpoint.releaseDayLease(root, h, day, "w1")
    Checkpoint.releaseLock(spark, root, h, run)
    assert(!java.nio.file.Files.exists(lease) && !java.nio.file.Files.exists(lock))
  }

  test("heartbeat refreshes only the heartbeat field, atomically") {
    val root = freshRoot()
    val h = "cfgfresh"
    val t0 = 5000000L
    val run = Checkpoint.acquireLock(spark, root, h, staleTtlMs = 60000L, nowMs = t0)
    Checkpoint.heartbeat(root, h, run, nowMs = t0 + 30000L)
    val p = java.nio.file.Paths.get(s"$root/locks/$h.lock")
    val Array(id, acq, hb) = java.nio.file.Files.readString(p).split('|')
    assert(id == run && acq.toLong == t0 && hb.toLong == t0 + 30000L)
    Checkpoint.releaseLock(spark, root, h, run)
  }

  // ------------------------------------------------- CC vertex contract

  test("CC accepts duplicated vertex ids: output distinct, labels exact") {
    import spark.implicits._
    // two components (1-2-3 triangle-ish chain, 10-11) plus an isolated 20;
    // every vertex id duplicated 3x. Round 1's groupBy must merge the
    // duplicates (the old join-based round 1 required distinct vertices —
    // this pins the relaxed contract the pipeline now relies on).
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L, 10L, 11L, 20L)
      .flatMap(v => Seq(v, v, v)).toDF("id")
    val out = graft.operators.ConnectedComponents.run(spark, vertices, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L), s"got ${out.mkString(",")}")
  }

  // ------------------------------------- failAfter/parallel contract guard

  test("runIncremental rejects failAfter combined with a parallel drain") {
    val pages = graft.sources.PagesGen.generate(spark, 50, nDomains = 5,
      nDays = 2, seed = 9L)
    val ex = intercept[IllegalArgumentException] {
      Checkpoint.runIncremental(spark, pages, freshRoot(),
        failAfter = 1, maxParallelDays = 2)
    }
    assert(ex.getMessage.contains("sequential"))
  }
}
