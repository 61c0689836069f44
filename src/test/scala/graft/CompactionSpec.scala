package graft

import graft.operators.Indexed
import org.apache.spark.sql.functions._

/** Index compaction: after a run of delta appends (one small file
  * each), compacting must collapse the file count back to the bulk
  * layout, preserve the row set exactly, publish a NEW version (old
  * version left intact for in-flight readers), and leave the serving
  * path reading the compacted copy.
  */
class CompactionSpec extends SparkSuite {

  private def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq

  test("append-heavy assignment table compacts to the bulk layout, same rows") {
    val base = tmpDir("compact")
    val full = spark.read.parquet(s"$sf0001/embeddings.parquet")
    full.filter(col("vec_id") < 300).write.parquet(s"$base/embeddings.parquet")

    val before = Indexed.ensureAssignments(spark, base)
    // two delta batches: enough to fragment the layout, few enough to
    // stay under the auto-compaction threshold (that trigger has its
    // own test below) so this one exercises the MANUAL compact path
    for (lo <- 300L until 500L by 100L)
      Indexed.appendAssignments(spark, base,
        full.filter(col("vec_id") >= lo && col("vec_id") < lo + 100))
    val appended = Indexed.assignPath(base)
    val appendedFiles = parquetFiles(appended).size
    assert(appendedFiles > Indexed.BuildTasks,
      "append history must fragment past the bulk layout")
    val rowsBefore = spark.read.parquet(appended)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

    val after = Indexed.compactCodes(spark, base, Indexed.Assign, onlyIfFragmented = false)
    assert(after !== before, "compaction must publish a NEW version dir")
    // the vacuum keeps a reader-retention window: the version an
    // in-flight reader resolved just before the compact must survive it
    assert(new java.io.File(appended).isDirectory,
      "the immediately superseded version must survive for in-flight readers")
    assert(Indexed.assignPath(base) === after,
      "serving path must resolve to the compacted version")

    val rowsAfter = spark.read.parquet(after)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rowsAfter === rowsBefore, "compaction must not change the row set")
    assert(parquetFiles(after).size < appendedFiles,
      s"expected fewer files than the ${appendedFiles}-file append history")
    assert(parquetFiles(after).size <= Indexed.BuildTasks,
      "compacted layout must be at most one file per build task")
  }

  test("continuous ingest crossing the file-count threshold auto-compacts") {
    val base = tmpDir("autocompact")
    val full = spark.read.parquet(s"$sf0001/embeddings.parquet")
    full.filter(col("vec_id") < 200).write.parquet(s"$base/embeddings.parquet")
    Indexed.ensureAssignments(spark, base)

    // trickle batches until the live version's file count has crossed
    // the threshold at least once — NO manual compact call anywhere
    var crossedAt = -1
    var batches = 0
    for (lo <- 200L until 500L by 20L) {
      Indexed.appendAssignments(spark, base,
        full.filter(col("vec_id") >= lo && col("vec_id") < lo + 20))
      batches += 1
      val files = parquetFiles(Indexed.assignPath(base)).size
      if (files <= Indexed.BuildTasks && batches > 2 && crossedAt < 0)
        crossedAt = batches // a collapse mid-run IS the trigger firing
    }
    assert(crossedAt > 0,
      "append history never collapsed — the auto-compaction policy did not fire")

    // the trigger must not lose rows: live table == frozen-structure
    // encode of everything appended, and serving still resolves
    val got = spark.read.parquet(Indexed.assignPath(base))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val exp = Indexed.Assign.encode(spark, base)(full)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === exp, "auto-compaction must preserve the appended row set")
    assert(parquetFiles(Indexed.assignPath(base)).size
      <= Indexed.CompactFileThreshold,
      "steady-state file count must stay bounded by the threshold")
  }
}
