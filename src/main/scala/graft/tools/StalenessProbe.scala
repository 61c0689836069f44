package graft.tools

import graft.core.Tables
import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures the graph-stats staleness policy under a live ingest
  * stream (dev tool): drive N micro-batches through the streaming
  * ingest's per-batch body ([[graft.streaming.StreamingGraphIngest]]'s
  * foreachBatch = ledger-gated [[Graph.appendKnnGraph]] + a
  * [[Graph.ensureGraphStats]] call under a lag budget) with
  * `maxLagGen` 0 (strict: rebuild after every batch — what a
  * registered query demands) vs 4 (the amortizing policy), and report
  * how many five-table stats rebuilds actually ran and what they cost
  * in total. The policy's claim: a live stream amortizes the rebuild
  * across `maxLagGen` batches, paying ~N/(lag+1) rebuilds instead of
  * N, while any strict consumer arriving at the end pays exactly one
  * catch-up rebuild. Both fixtures end with a strict (lag 0) read so
  * the totals compare equal-freshness endpoints.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *      sbt "runMain graft.tools.StalenessProbe"
  */
object StalenessProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val nBatches = 8
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-staleness-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wh = java.nio.file.Files.createTempDirectory("stl-wh").toString
    sys.props("graft.warehouse") = wh

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val full = Tables.embeddings(spark, sfDir)
    for (lag <- Seq(0L, 4L)) {
      // fresh fixture per policy: base corpus = everything outside the
      // 8 hash-sliced micro-batch deltas (~0.8% of the corpus each)
      val d = java.nio.file.Files.createTempDirectory(s"stl-lag$lag").toString
      val slice = pmod(xxhash64(col("vec_id")), lit(1000L))
      full.filter(slice >= nBatches * 8).write.mode("overwrite")
        .parquet(s"$d/embeddings.parquet")
      Graph.ensureKnnGraph(spark, d)
      Graph.ensureGraphStats(spark, d) // gen-0 stats, untimed
      Dedup.releaseSlots()
      val accepted = s"$d/accepted"
      var statsTime = 0.0
      var refreshes = 0
      var prevVer = ""
      var appendTime = 0.0
      for (i <- 0 until nBatches) {
        val batch = full
          .filter(slice >= i * 8 && slice < (i + 1) * 8)
          .select("vec_id", "embedding")
        val (_, tA) = time(
          graft.streaming.StreamingGraphIngest.ingestBatch(
            spark, d, accepted, batch))
        appendTime += tA
        val (ver, tS) = time(Graph.ensureGraphStats(spark, d, maxLagGen = lag))
        statsTime += tS
        if (ver != prevVer) { refreshes += 1; prevVer = ver }
        Dedup.releaseSlots()
      }
      // equal-freshness endpoint: a strict consumer at stream end
      val (_, tFinal) = time(Graph.ensureGraphStats(spark, d))
      Dedup.releaseSlots()
      println(s"""{"probe":"staleness_policy","sf":"$sfDir","lag":$lag,""" +
        s""""batches":$nBatches,"stats_refreshes":$refreshes,""" +
        s""""stats_time_s":${math.round(statsTime * 100) / 100.0},""" +
        s""""final_strict_s":${math.round(tFinal * 100) / 100.0},""" +
        s""""append_time_s":${math.round(appendTime * 100) / 100.0},""" +
        s""""total_s":${math.round((statsTime + tFinal + appendTime) * 100) / 100.0}}""")
    }
    spark.stop()
  }
}
