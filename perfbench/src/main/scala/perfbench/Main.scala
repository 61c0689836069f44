package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Metrics a run reports: end-to-end values from the client's own
  * clock, per-layer values from the trace and the workload. */
final class Metrics {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Whole rounds of the operation mix the timed region ran. */
  var rounds = 0
  /** Where the suite left its query outputs for the oracle compare. */
  var oracleOut = ""
  /** Operation type of each suite query, for charging oracle mismatches. */
  var queryKind = Map.empty[String, String]

  /** Heap in use after a full GC, at the end of the timed region. The
    * pauses let Spark's context cleaner drop the broadcasts and shuffle
    * state the first collection found unreachable, so the next one
    * reclaims them too. */
  def liveHeap(): Unit = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    e2e("live_heap_mb") = mx.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Runs one workload in this JVM and writes its result as JSON.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> <dataDir> <resultFile>`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, root, data, resultFile) = args
    val traced = traceS == "1"
    // artifacts, SQL warehouse and scratch all under the run's own dir
    System.setProperty("graft.warehouse", s"$root/artifacts")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      // bounded status history, so retained job records do not grow
      // the live heap with the number of rounds a run fits in
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Main.log("session started")
    val calib0 = if (traced) calibrate() else 0.0
    val tracer = new Tracer(spark, traced)
    val ctx = Ctx(spark, tracer, seedS.toLong, secondsS.toDouble, root, data)
    val ops = new Ops(tracer)
    val out = new Metrics
    Check.selfTest().foreach(c => ops.problems += s"checker $c accepted a corrupted result")
    val gc0 = gcSeconds()
    workload match {
      case "suite" => Suite.run(ctx, ops, out)
      case "vector" => Vector.run(ctx, ops, out)
    }
    Main.log("workload done")
    val gcS = gcSeconds() - gc0
    tracer.finish()
    if (traced) layers(tracer, ops, out, gcS, (calib0 + calibrate()) / 2)

    def counts(m: collection.Map[String, Int]) = Json.obj(m.toSeq.map { case (k, v) => k -> v.toString })
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "rounds" -> out.rounds.toString,
      "attempted" -> counts(ops.attempted),
      "failed" -> counts(ops.failed),
      "problems" -> ops.problems.map(Json.str).mkString("[", ",", "]"),
      "digest" -> Json.str(ops.digestOfAll),
      "oracle_out" -> Json.str(out.oracleOut),
      "query_kind" -> Json.obj(out.queryKind.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "e2e" -> Json.obj(out.e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(out.layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> (if (traced) tracer.spansJson else "[]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(resultFile), json)
    spark.stop()
  }

  /** A progress line on stderr, with seconds since the JVM started. */
  def log(what: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] $up%7.1f s  $what")
  }

  /** A fixed pure-JVM loop: its time witnesses host contention, not code. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 200000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("calibration checksum")
    s
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
  }

  /** The per-layer split, from spans inside the timed region. Totals are
    * per round of the workload's operation mix; per-op values are means
    * over that operation type's calls. */
  def layers(t: Tracer, ops: Ops, out: Metrics, gcS: Double, calibS: Double): Unit = {
    val L = out.layer
    val timed = t.all.find(_.name == "timed").get
    def in(s: Span) = s.startMs >= timed.startMs && s.endMs <= timed.endMs
    val rounds = math.max(out.rounds, 1).toDouble
    val all = t.cost(_.id == timed.id)
    L("spark.jobs") = all.jobs / rounds
    L("spark.tasks") = all.tasks / rounds
    L("spark.task_s") = all.taskS / rounds
    L("spark.driver_s") = all.driverS / rounds
    L("spark.plan_s") = all.planS / rounds
    L("spark.shuffle_mb") = all.shuffleBytes / 1e6 / rounds
    L("spark.spill_mb") = all.spillBytes / 1e6 / rounds
    L("jvm.gc_s") = gcS
    L("host.calib_s") = calibS
    for ((m, _) <- Suite.Modules) {
      val c = t.cost(s => s.name == s"module.$m" && in(s))
      L(s"module.$m.wall_s") = c.wallS / rounds
      L(s"module.$m.jobs") = c.jobs / rounds
      L(s"module.$m.task_s") = c.taskS / rounds
      L(s"module.$m.driver_s") = c.driverS / rounds
    }
    def perOp(name: String): Cost = t.cost(s => s.name == name && in(s))
    def per(c: Cost, v: Double) = if (c.spans == 0) 0.0 else v / c.spans
    for (s <- Vector.Strategies) {
      val c = perOp(s)
      L(s"$s.jobs_per_op") = per(c, c.jobs)
      L(s"$s.plan_ms_per_op") = per(c, c.planS * 1e3)
      L(s"$s.driver_ms_per_op") = per(c, c.driverS * 1e3)
      L(s"$s.rows_read_per_op") = per(c, c.rowsRead)
    }
    def wallsMs(name: String) = t.all.filter(s => s.name == name && in(s)).map(s => (s.endMs - s.startMs).toDouble)
    val h = perOp("hydrate")
    L("hydrate.p50_ms") = Stats.median(wallsMs("hydrate"))
    L("hydrate.jobs_per_op") = per(h, h.jobs)
    L("hydrate.rows_read_per_op") = per(h, h.rowsRead)
    val st = perOp("streaming")
    L("streaming.batch_p50_ms") = Stats.median(wallsMs("streaming"))
    L("streaming.jobs_per_batch") = per(st, st.jobs)
    L("append.ivf_ms") = Stats.median(wallsMs("append.ivf"))
    val up = perOp("upsert")
    L("upsert.written_mb") = per(up, up.writtenBytes / 1e6)
    val f = perOp("find")
    L("find.rows_read_per_op") = per(f, f.rowsRead)
    val se = perOp("search")
    L("search.rows_read_per_op") = per(se, se.rowsRead)
  }
}
