package graft.tools

import graft.core.QueryProfile
import org.apache.spark.sql.SparkSession

/** Profiles one registered query: warms it with `reps - 1` untimed
  * runs, then runs it once more under a [[QueryProfile]] and prints the
  * profile as one JSON line — every job with its span, submit and end
  * times, stage call sites and tasks, the operator spans and notes.
  * Most queries at sf0.1 run over KB-scale data, so their wall is
  * sequential job latency, not compute: the gaps between one job's end
  * and the next one's submit are driver time (planning, collects).
  *
  * Usage: runMain graft.tools.Profile <query> [reps]
  * (`SPARK_GRAFT_SF_DIR`, default sf0.1; `SPARK_GRAFT_CPUS`, default 32)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_d2_dedup_minhash_lsh")
    val reps = if (args.length >= 2) args(1).toInt else 3
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = SparkSession.builder().master(s"local[$cpus]")
      .appName("graft-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val q = graft.SparkEntry.queries(name)
    def once(): Unit = {
      q(s, d).write.format("noop").mode("overwrite").save()
      graft.operators.Dedup.releaseSlots()
    }
    (1 until reps).foreach(_ => once())
    val (_, p) = QueryProfile.run(s)(once())
    println(p.json)
    s.stop()
  }
}
