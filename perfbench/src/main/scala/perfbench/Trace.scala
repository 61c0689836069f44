package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One call the benchmark made into the program: `name` is the
  * operation type or module call it groups under, `op` the id of the
  * client operation it belongs to, `parent` the enclosing span (-1 at
  * top level). Times are wall-clock milliseconds, the clock Spark's
  * listener events carry.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startMs: Long, endMs: Long)

/** Layer totals of a set of spans. */
final case class Cost(spans: Int, wallS: Double, jobs: Int, tasks: Int,
    taskS: Double, driverS: Double, planS: Double, rowsRead: Long,
    writtenBytes: Long, shuffleBytes: Long, spillBytes: Long)

/** Span recorder plus the Spark-side accounting that attributes jobs,
  * tasks and Catalyst phases to spans.
  *
  * With one client thread, a job belongs to the innermost span open
  * when it was submitted; a task to the innermost span open at its
  * launch; a query's analysis, optimization and planning phases to the
  * span open when they started. Attribution is by timestamp, so it also
  * covers jobs submitted from threads the program starts itself (the
  * streaming micro-batch thread). A span's driver time is its wall
  * minus the union of its jobs' intervals.
  *
  * When `enabled` is false, [[span]] only runs its body: the untraced
  * runs that give the end-to-end metrics register no listener.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean)
    extends SparkListener with QueryExecutionListener {

  private final case class Job(startMs: Long, endMs: Long)
  private final case class Task(launchMs: Long, runMs: Long, rows: Long,
      written: Long, shuffle: Long, spill: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Long, String, Long)] // id, op, name, start
  private var nextId = 0
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  private val jobs = new ConcurrentLinkedQueue[Job]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val plans = new ConcurrentLinkedQueue[(Long, Long)] // start, duration

  if (enabled) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def span[T](name: String, op: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parentOp = stack.headOption.map(_._2).getOrElse(-1L)
      val o = if (op >= 0) op else parentOp
      stack = (id, o, name, System.currentTimeMillis()) :: stack
      try f
      finally {
        val (_, _, _, t0) = stack.head
        val parent = stack.tail.headOption.map(_._1).getOrElse(-1)
        stack = stack.tail
        spans += Span(id, parent, o, name, t0, System.currentTimeMillis())
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(t0 => jobs.add(Job(t0, e.time)))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val sh = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      tasks.add(Task(e.taskInfo.launchTime, m.executorRunTime, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, sh, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)
  private def recordPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val names = Seq(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS,
      org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION,
      org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING)
    val got = names.flatMap(ph.get)
    if (got.nonEmpty)
      plans.add(got.map(_.startTimeMs).min -> got.map(p => p.endTimeMs - p.startTimeMs).sum)
  }

  /** Waits until the listener bus has delivered every event posted so
    * far, then detaches. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  lazy val all: Seq[Span] = spans.toSeq.sortBy(_.id)
  private lazy val byId = all.map(s => s.id -> s).toMap
  private lazy val starts = all.sortBy(s => (s.startMs, s.id)).toIndexedSeq

  /** Innermost span open at `t`: the latest-started span containing it. */
  private def owner(t: Long): Int = {
    var best = -1
    var i = 0
    while (i < starts.length && starts(i).startMs <= t) {
      val s = starts(i)
      if (t <= s.endMs) best = s.id
      i += 1
    }
    best
  }
  private lazy val jobOwner = jobs.asScala.toSeq.map(j => owner(j.startMs) -> j).groupBy(_._1)
  private lazy val taskOwner = tasks.asScala.toSeq.map(t => owner(t.launchMs) -> t).groupBy(_._1)
  private lazy val planOwner = plans.asScala.toSeq.map(p => owner(p._1) -> p._2).groupBy(_._1)

  private def within(s: Span, root: Set[Int]): Boolean = {
    var cur = s.id
    while (cur >= 0) {
      if (root(cur)) return true
      cur = byId(cur).parent
    }
    false
  }

  /** Totals over the spans `pick` selects and every span below them. */
  def cost(pick: Span => Boolean): Cost = {
    val roots = all.filter(pick)
    val rootIds = roots.map(_.id).toSet
    val sub = all.filter(within(_, rootIds)).map(_.id)
    val js = sub.flatMap(i => jobOwner.getOrElse(i, Nil).map(_._2))
    val ts = sub.flatMap(i => taskOwner.getOrElse(i, Nil).map(_._2))
    val ps = sub.flatMap(i => planOwner.getOrElse(i, Nil).map(_._2))
    val wallMs = roots.map(s => s.endMs - s.startMs).sum
    // union of job intervals clipped to each root span
    val busyMs = roots.map { r =>
      val iv = js.map(j => (math.max(j.startMs, r.startMs), math.min(j.endMs, r.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) total += curE - curS
      total
    }.sum
    Cost(roots.size, wallMs / 1e3, js.size, ts.size, ts.map(_.runMs).sum / 1e3,
      math.max(0L, wallMs - busyMs) / 1e3, ps.sum / 1e3, ts.map(_.rows).sum,
      ts.map(_.written).sum, ts.map(_.shuffle).sum,
      ts.map(_.spill).sum)
  }

  def spansJson: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
  }.mkString("[", ",\n", "]")
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
