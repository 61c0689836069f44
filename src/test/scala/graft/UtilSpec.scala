package graft

import graft.core.Util
import graft.operators.Knn
import org.apache.spark.sql.functions._

class UtilSpec extends SparkSuite {

  test("S7 json dump round-trip preserves rows; schema check rejects bad dumps") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dir = tmpDir("dump") + "/docs"
    Util.exportJson(docs, dir)
    val back = Util.importJson(spark, dir, docs.schema)
    assert(back.count() === docs.count())
    assert(back.select("doc_id").except(docs.select("doc_id")).count() === 0)
    // a schema expecting a field that isn't in the dump must be rejected
    val badSchema = org.apache.spark.sql.types.StructType(
      docs.schema.fields :+ org.apache.spark.sql.types.StructField(
        "not_there", org.apache.spark.sql.types.StringType))
    intercept[IllegalArgumentException] {
      Util.importJson(spark, dir, badSchema)
    }
  }

  test("A4 docReads metric: partition pruning cuts rows actually scanned") {
    val total = spark.read.parquet(s"$sf0001/lineitem.parquet").count()
    val full = Util.rowsScanned(
      spark.read.parquet(s"$sf0001/lineitem.parquet").select("l_orderkey"))
    assert(full === total, "metric must count all scanned rows on a full scan")
    // write a returnflag-partitioned copy; a flag filter then prunes
    // whole directories and the metric shows fewer rows read
    val dir = tmpDir("metric") + "/li"
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .write.partitionBy("l_returnflag").parquet(dir)
    val pruned = Util.rowsScanned(
      spark.read.parquet(dir).filter(col("l_returnflag") === "R").select("l_orderkey"))
    info(s"full=$full pruned=$pruned total=$total")
    assert(pruned < full, "partition pruning must cut scanned rows")
    assert(pruned === spark.read.parquet(dir).filter(col("l_returnflag") === "R").count())
  }

  test("readParquet: a re-read of unchanged files states the inferred schema without a job; a changed listing re-infers") {
    import spark.implicits._
    val dir = tmpDir("readpq") + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.partitionBy("v").parquet(dir)
    val first = Util.readParquet(spark, dir)
    val (again, p) = graft.core.QueryProfile.run(spark)(Util.readParquet(spark, dir))
    assert(p.jobs.isEmpty, "the re-read inferred its schema again")
    assert(again.schema === first.schema && again.schema === spark.read.parquet(dir).schema)
    assert(again.orderBy("id").collect().toSeq === first.orderBy("id").collect().toSeq)
    // an append with a new column changes the listing: the new column shows
    Seq((3L, "a", 1.5)).toDF("id", "v", "x").write.mode("append").partitionBy("v").parquet(dir)
    assert(Util.readParquet(spark, dir).schema === spark.read.parquet(dir).schema)
    for (t <- graft.core.Tables.all)
      assert(Util.readParquet(spark, s"$sf0001/$t.parquet").schema ===
        spark.read.parquet(s"$sf0001/$t.parquet").schema, t)
  }
}

