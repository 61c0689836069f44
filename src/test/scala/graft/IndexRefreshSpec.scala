package graft

import graft.core.ArtifactStore
import graft.operators.Indexed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental index maintenance, for every stored code table: appending
  * a delta encoded with the FROZEN structures must leave the table
  * identical (as a set) to an all-at-once encode of the full corpus with
  * those same structures — so every serve-many plan reading the grown
  * tables behaves as if the index had been built from the full corpus
  * in one shot — and compacting an append history must keep the row set
  * and collapse the files back to the bulk layout.
  */
class IndexRefreshSpec extends SparkSuite {

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** The live table `t` serves, columns in its encode's order. */
  private def stored(t: Indexed.CodeTable, d: String, cols: Seq[String]): Set[Seq[Any]] =
    rows(spark.read.parquet(t.path(d)).select(cols.map(col): _*))

  test("delta append with frozen centroids/codebook == all-at-once encode") {
    val base = tmpDir("idxrefresh")
    val full = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // base corpus = ids < 400; the rest arrives later as a delta batch
    full.filter(col("vec_id") < 400)
      .write.parquet(s"$base/embeddings.parquet")
    val delta = full.filter(col("vec_id") >= 400)
    val deltaRows = delta.count()

    for (t <- Indexed.CodeTables) {
      val built = Indexed.ensureCodes(spark, base, t)
      val baseRows = spark.read.parquet(built).count()
      assert(deltaRows > 0 && baseRows > 0, "fixture must split into base + delta")
      Indexed.appendCodes(spark, base, t, delta)
      // appends PUBLISH: the pre-append snapshot dir must be untouched,
      // and the re-resolved live dir carries base + delta
      assert(spark.read.parquet(built).count() === baseRows,
        s"${t.name}: pre-append snapshot must be immutable")
      // the grown table == encoding the FULL corpus with the SAME frozen
      // structures (learned from the base corpus only)
      val want = t.encode(spark, base)(full)
      val got = stored(t, base, want.columns.toSeq)
      assert(got.size === baseRows + deltaRows, s"${t.name}: append must not drop or dup ids")
      assert(got === rows(want), s"${t.name}: append ≠ one-shot encode")
    }
  }

  test("compaction keeps every code table's row set and leaves at most BuildTasks files") {
    val base = tmpDir("idxcompact")
    val full = spark.read.parquet(s"$sf0001/embeddings.parquet")
    full.filter(col("vec_id") < 300).write.parquet(s"$base/embeddings.parquet")

    for (t <- Indexed.CodeTables) {
      Indexed.ensureCodes(spark, base, t)
      // two delta batches: enough to fragment the layout, few enough to
      // stay under the auto-compaction threshold, so this exercises the
      // explicit compaction
      for (lo <- 300L until 500L by 100L)
        Indexed.appendCodes(spark, base, t,
          full.filter(col("vec_id") >= lo && col("vec_id") < lo + 100))
      val appended = t.path(base)
      val appendedFiles = ArtifactStore.dataFileCount(appended)
      assert(appendedFiles > Indexed.BuildTasks,
        s"${t.name}: append history must fragment past the bulk layout")
      val cols = spark.read.parquet(appended).columns.toSeq
      val rowsBefore = stored(t, base, cols)

      val after = Indexed.compactCodes(spark, base, t, onlyIfFragmented = false)
      assert(after !== appended, s"${t.name}: compaction must publish a NEW version dir")
      assert(new java.io.File(appended).isDirectory,
        s"${t.name}: the superseded version must survive for in-flight readers")
      assert(t.path(base) === after, s"${t.name}: serving must resolve to the compacted version")
      assert(stored(t, base, cols) === rowsBefore, s"${t.name}: compaction changed the row set")
      assert(ArtifactStore.dataFileCount(after) <= Indexed.BuildTasks,
        s"${t.name}: compacted layout must be at most one file per build task")
    }
  }
}
