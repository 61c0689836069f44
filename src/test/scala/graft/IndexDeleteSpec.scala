package graft

import graft.operators.Indexed
import org.apache.spark.sql.functions._

/** Index-side deletes: removing ids rewrites every stored table without
  * them (new version, old snapshot intact), serving stops returning
  * them, and re-appending the same vectors restores the bulk-build
  * state exactly — the full ingest/delete/re-ingest lifecycle.
  */
class IndexDeleteSpec extends SparkSuite {

  test("removeFromIndexes drops ids from all four tables; re-append restores") {
    val base = tmpDir("idxdelete")
    val full = spark.read.parquet(s"$sf0001/embeddings.parquet")
    full.write.parquet(s"$base/embeddings.parquet")

    // build all four stored tables
    val assignBefore = Indexed.ensureAssignments(spark, base)
    Indexed.CodeTables.foreach(Indexed.ensureCodes(spark, base, _))
    val n = full.count()

    val victims = full.filter(col("vec_id") % 7 === 0).select("vec_id")
    val nVictims = victims.count()
    assert(nVictims > 0)

    val assignAfter = Indexed.removeFromIndexes(spark, base, victims)
    assert(assignAfter !== assignBefore, "delete must publish a new version")
    assert(new java.io.File(assignBefore).isDirectory,
      "pre-delete snapshot must survive for in-flight readers")

    // every table lost exactly the victim ids
    for (t <- Indexed.CodeTables) {
      val rows = spark.read.parquet(t.path(base))
      assert(rows.count() === n - nVictims, s"${t.name} wrong row count after delete")
      assert(rows.join(victims, "vec_id").count() === 0, s"${t.name} retains deleted ids")
    }

    // re-appending the deleted vectors (frozen-structure encode)
    // restores the exact bulk-build content on every table
    val deltas = full.join(victims, "vec_id")
    for (t <- Indexed.CodeTables) {
      Indexed.appendCodes(spark, base, t, deltas)
      val want = t.encode(spark, base)(full)
      val got = spark.read.parquet(t.path(base)).select(want.columns.map(col): _*)
      assert(got.collect().map(_.toSeq).toSet === want.collect().map(_.toSeq).toSet,
        s"${t.name}: re-append ≠ bulk build")
    }
  }
}
