package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import scala.collection.mutable

/** What one profiled run did on the Spark side ([[QueryProfile.run]]).
  *
  * @param wallS the body's wall seconds
  * @param spans per span name: summed wall, calls, and the jobs
  *   submitted while it was the submitting thread's innermost span
  * @param jobs every job the run submitted, in submission order
  * @param notes the last value [[QueryProfile.note]] gave each key
  */
final case class QueryProfile(wallS: Double,
    spans: Map[String, QueryProfile.Span],
    jobs: Seq[QueryProfile.Job],
    notes: Map[String, String]) {

  /** The profile as one JSON object. */
  def json: String = {
    import org.json4s.JsonDSL._
    val sp = spans.toSeq.sortBy(_._1).map { case (n, s) =>
      n -> (("wall_s" -> s.wallS) ~ ("calls" -> s.calls) ~ ("jobs" -> s.jobs) ~
        ("job_s" -> s.jobWallS) ~ ("task_s" -> s.taskS))
    }
    val js = jobs.map(j => ("id" -> j.id) ~ ("span" -> j.span) ~
      ("submit_ms" -> j.submitMs) ~ ("end_ms" -> j.endMs) ~ ("tasks" -> j.tasks) ~
      ("task_s" -> j.taskS) ~ ("call_sites" -> j.callSites))
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      ("wall_s" -> wallS) ~ ("spans" -> sp.toMap) ~ ("jobs" -> js) ~ ("notes" -> notes)))
  }
}

/** One query-scoped profile, shared by Bench, the tools and the specs.
  *
  * The caller wraps a run in [[run]]; operators mark their phases with
  * [[span]] and record which path served with [[note]]. The active
  * profile travels as a Spark local property of the thread, so every
  * job submitted under it carries its id — including jobs from threads
  * the body starts, which inherit the property (the v19 legs' pool,
  * broadcast exchanges) — and two profiles open on one session at the
  * same time each see only their own jobs. The caller's job group is
  * never touched. With no profile open, [[span]] and [[note]] cost one
  * local-property read.
  */
object QueryProfile {

  /** A span's totals: summed wall over `calls`, and over the jobs it
    * submitted, their summed wall and executor run time.
    */
  final case class Span(wallS: Double, calls: Int, jobs: Int,
      jobWallS: Double, taskS: Double)

  /** One Spark job: the innermost span open in the submitting thread
    * ("" outside any), submit and end times (epoch ms; -1 if it had
    * not ended when the run returned), its stages' call sites, and its
    * tasks with their summed executor run time. `adaptive` is the
    * job's `spark.sql.adaptive.enabled` property ("" on a non-SQL job).
    */
  final case class Job(id: Int, span: String, submitMs: Long, endMs: Long,
      callSites: Seq[String], tasks: Int, taskS: Double, adaptive: String)

  private val IdKey = "graft.profile.id"
  private val SpanKey = "graft.profile.span"
  private val ids = new AtomicLong
  private val open = new ConcurrentHashMap[String, Recorder]

  /** Runs `body` under a new profile and returns its result with the
    * profile. The listener bus is drained before the profile is read,
    * and the listener is detached even when `body` throws.
    */
  def run[T](spark: SparkSession)(body: => T): (T, QueryProfile) = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet().toString
    val rec = new Recorder(id)
    val outerId = sc.getLocalProperty(IdKey)
    val outerSpan = sc.getLocalProperty(SpanKey)
    open.put(id, rec)
    sc.addSparkListener(rec)
    sc.setLocalProperty(IdKey, id)
    sc.setLocalProperty(SpanKey, null)
    val t0 = System.nanoTime()
    val out = try body finally {
      sc.setLocalProperty(IdKey, outerId)
      sc.setLocalProperty(SpanKey, outerSpan)
      try Bridge.drainListenerBus(sc)
      finally { sc.removeSparkListener(rec); open.remove(id); () }
    }
    (out, rec.profile((System.nanoTime() - t0) / 1e9))
  }

  /** Runs `f` as the phase `name` of the active profile, if any. */
  def span[T](s: SparkSession, name: String)(f: => T): T = {
    val sc = s.sparkContext
    val id = sc.getLocalProperty(IdKey)
    val rec = if (id == null) null else open.get(id)
    if (rec == null) f
    else {
      val outer = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, name)
      val t0 = System.nanoTime()
      try f
      finally {
        sc.setLocalProperty(SpanKey, outer)
        rec.spanEnded(name, System.nanoTime() - t0)
      }
    }
  }

  /** Records `key = value` in the active profile, if any. */
  def note(s: SparkSession, key: String, value: String): Unit = {
    val id = s.sparkContext.getLocalProperty(IdKey)
    if (id != null) Option(open.get(id)).foreach(_.noted(key, value))
  }

  /** Span walls arrive from the query's threads; job, stage and task
    * events from the listener bus's one thread, and are read only
    * after the bus is drained.
    */
  private final class Recorder(id: String) extends SparkListener {
    private val walls = mutable.LinkedHashMap.empty[String, (Long, Int)]
    private val notes = mutable.LinkedHashMap.empty[String, String]
    private final class J(val id: Int, val span: String, val submitMs: Long,
        val callSites: Seq[String], val adaptive: String) {
      var endMs = -1L; var tasks = 0; var taskMs = 0L
    }
    private val jobs = mutable.LinkedHashMap.empty[Int, J]
    private val stageJob = mutable.HashMap.empty[Int, J]

    def spanEnded(name: String, ns: Long): Unit = synchronized {
      val (t, n) = walls.getOrElse(name, (0L, 0))
      walls(name) = (t + ns, n + 1)
    }
    def noted(key: String, value: String): Unit = synchronized { notes(key) = value }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      if (p != null && id == p.getProperty(IdKey)) {
        val j = new J(e.jobId, p.getProperty(SpanKey, ""), e.time,
          e.stageInfos.map(_.name), p.getProperty("spark.sql.adaptive.enabled", ""))
        jobs(e.jobId) = j
        e.stageIds.foreach(sid => stageJob.getOrElseUpdate(sid, j))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskMetrics != null) j.taskMs += e.taskMetrics.executorRunTime
      }

    def profile(wallS: Double): QueryProfile = synchronized {
      val js = jobs.values.toSeq.map(j => Job(j.id, j.span, j.submitMs, j.endMs,
        j.callSites, j.tasks, j.taskMs / 1e3, j.adaptive))
      val byspan = js.groupBy(_.span)
      val spans = walls.map { case (n, (ns, calls)) =>
        val mine = byspan.getOrElse(n, Nil)
        n -> Span(ns / 1e9, calls, mine.size,
          mine.filter(_.endMs >= 0).map(j => j.endMs - j.submitMs).sum / 1e3,
          mine.map(_.taskS).sum)
      }.toMap
      QueryProfile(wallS, spans, js, notes.toMap)
    }
  }
}
