package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** The dedup phases, keyed by the `spark.job.description` values that
  * `DedupPipeline` and `ConnectedComponents` set before their jobs.
  */
object Phases {
  val Names: Seq[String] = Seq("sig_bucket", "verify", "cc", "members", "assign", "other")
  /** Phases whose jobs are dedup work (everything but `other`). */
  val Dedup: Set[String] = Names.filterNot(_ == "other").toSet

  /** A description is sticky on the thread that set it, so jobs that
    * `Checkpoint.runIncremental` (or the bench itself) starts after a
    * pipeline call still carry the pipeline's last description. Such jobs
    * are recognised by their call site and go to `other`.
    */
  def of(description: String, callSite: String): String =
    if (!isPipelineSite(callSite)) "other"
    else description match {
      case "dedup: bucket checkpoint"         => "sig_bucket"
      case "dedup: verify edges materialize"  => "verify"
      case d if d != null && d.startsWith("cc: ") => "cc"
      case "members: background materialize" => "members"
      case "dedup: assign + keepers"          => "assign"
      case _                                  => "other"
    }

  /** Sites in `Checkpoint.scala` or in the bench's own files are not
    * pipeline jobs; an unknown site keeps the description's phase.
    */
  private def isPipelineSite(site: String): Boolean =
    site == null || !(site.contains("Checkpoint.scala") || site.startsWith("perfbench."))

  /** The first frame of the program or the bench in a Spark call-site
    * stack (one frame per line), or null.
    */
  def userFrame(stack: String): String =
    if (stack == null) null
    else stack.split("\n").find(l => l.startsWith("graft.") || l.startsWith("perfbench."))
      .orNull
}

/** One finished task's measures, in seconds and bytes. */
final case class TaskRec(runS: Double, cpuS: Double, gcS: Double,
                         shufWB: Long, shufRB: Long, spillB: Long)

final class JobRec(val id: Int, val description: String, val callSite: String,
                   val startNs: Long) {
  @volatile var endNs: Long = 0L
  val phase: String = Phases.of(description, callSite)
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
}

/** The bench's one `SparkListener`.
  *
  * Untraced it keeps counters only (task time and shuffle bytes). Traced it
  * also keeps every job with its tasks, so a pass can be split into phases.
  * Listener events arrive on an asynchronous bus: callers wait for
  * [[drain]] before reading a pass.
  */
final class PhaseListener extends SparkListener {
  @volatile var traced: Boolean = false

  // bus events carry epoch-ms times; spans use the nanoTime clock
  private val nanoBase = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanos(epochMs: Long): Long = nanoBase + epochMs * 1000000L

  val taskNs = new AtomicLong
  val shuffleB = new AtomicLong
  private val jobsSeen = new AtomicLong
  private val jobsEnded = new AtomicLong

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // SQL execution id -> the program frame that started the query. AQE runs
  // a query's stages as jobs from a thread pool, so only the execution
  // knows who asked for them.
  private val execSite = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if traced =>
      val site = Phases.userFrame(s.details)
      if (site != null) execSite.put(s.executionId, site)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsSeen.incrementAndGet()
    if (traced) {
      val p = e.properties
      val desc = if (p == null) null else p.getProperty("spark.job.description")
      // the query's site, else the job's own (highest-id) stage's site
      val site = Option(p).flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execSite.get(id.toLong)))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
        .orNull
      val rec = new JobRec(e.jobId, desc, site, nanos(e.time))
      jobs.put(e.jobId, rec)
      // first job wins: a later job lists an already-computed stage as skipped
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val rec = jobs.get(e.jobId)
    if (rec != null) rec.endNs = nanos(e.time)
    jobsEnded.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = m.shuffleWriteMetrics.bytesWritten
      val r = m.shuffleReadMetrics.totalBytesRead
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      shuffleB.addAndGet(w + r)
      if (traced) {
        val rec = Option(stageJob.get(e.stageId)).map(jobs.get).orNull
        if (rec != null) rec.tasks.add(TaskRec(m.executorRunTime / 1e3,
          m.executorCpuTime / 1e9, m.jvmGCTime / 1e3, w, r,
          m.diskBytesSpilled))
      }
    }
  }

  /** Wait until every started job has ended on the bus, so counters read
    * after a pass include all of its tasks.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded.get < jobsSeen.get && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  /** Jobs that started inside [t0, t1], oldest first. */
  def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
    jobs.values.asScala.filter(j => j.startNs >= t0 && j.startNs <= t1)
      .toSeq.sortBy(_.id)
}

/** Per-phase figures of one timed pass, from its traced jobs. */
final case class PhaseStats(wallS: Double, taskS: Double, cpuS: Double, gcS: Double,
                            jobs: Int, tasks: Int, shufWMb: Double, shufRMb: Double,
                            spillMb: Double, taskSkew: Double)

object PhaseStats {
  /** Wall time covered by the union of the jobs' intervals (the members
    * job overlaps the others, so a plain sum would count time twice).
    */
  def unionWallS(js: Seq[JobRec]): Double = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    js.map(j => (j.startNs, math.max(j.endNs, j.startNs))).sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e9
  }

  def of(js: Seq[JobRec]): PhaseStats = {
    val ts = js.flatMap(_.tasks.asScala)
    val runs = ts.map(_.runS).sorted
    val med = if (runs.isEmpty) 0.0 else runs(runs.size / 2)
    PhaseStats(unionWallS(js), ts.map(_.runS).sum, ts.map(_.cpuS).sum,
      ts.map(_.gcS).sum, js.size, ts.size, ts.map(_.shufWB).sum / 1e6,
      ts.map(_.shufRB).sum / 1e6, ts.map(_.spillB).sum / 1e6,
      if (med > 0) runs.last / med else 0.0)
  }

  def byPhase(js: Seq[JobRec]): Map[String, PhaseStats] =
    Phases.Names.map(p => p -> of(js.filter(_.phase == p))).toMap
}

/** In-memory spans of a traced run: name, start, end, parent, run id. They
  * are written out as JSON lines when the run ends.
  */
final class Tracer(runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextId = 1

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      spans += Span(id, name, parent, t0, System.nanoTime())
    }
  }

  /** Job spans, each parented to the innermost bench span that covers it. */
  def addJobs(js: Iterable[JobRec]): Unit = js.foreach { j =>
    val cover = spans.filter(s => s.startNs <= j.startNs && j.startNs <= s.endNs)
    val parent = if (cover.isEmpty) 0 else cover.minBy(s => s.endNs - s.startNs).id
    spans += Span(nextId,
      s"job ${j.id} [${j.phase}] ${Option(j.description).getOrElse("")} @ ${j.callSite}",
      parent, j.startNs, math.max(j.endNs, j.startNs))
    nextId += 1
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}
