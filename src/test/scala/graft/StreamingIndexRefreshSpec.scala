package graft

import graft.operators.Indexed
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming ingestion composed with incremental index maintenance —
  * the end-to-end form of the reference's pipeline plugin feeding its
  * per-insert index-field encode: arriving vectors land as micro-
  * batches, each batch is anti-joined against the stored codes table
  * (the T3 at-least-once → effectively-once idiom from
  * `IndexBuild.appendNewDocuments`) and delta-encoded with the FROZEN
  * codebook. After the drain the stored table must equal the
  * all-at-once bulk build, and a replay of the same source from a
  * fresh checkpoint must append nothing.
  */
class StreamingIndexRefreshSpec extends SparkSuite {

  test("micro-batched deltas grow the codes table to the bulk state; replay is a no-op") {
    val base = tmpDir("stream-idx")
    val full = spark.read.parquet(s"$sf0001/embeddings.parquet")
    full.filter(col("vec_id") < 400).write.parquet(s"$base/embeddings.parquet")
    Indexed.ensureCodes(spark, base, Indexed.PqCodes)
    // appends publish new versions: always read the LIVE codes table
    def codesPath: String = Indexed.PqCodes.path(base)

    // the delta arrives as a JSON directory (the pipeline source shape)
    val srcDir = tmpDir("stream-idx-src")
    full.filter(col("vec_id") >= 400).select("vec_id", "embedding")
      .coalesce(2).write.mode("overwrite").json(srcDir)
    val srcSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))

    def drain(checkpoint: String): Unit = {
      val q = spark.readStream.schema(srcSchema)
        .option("maxFilesPerTrigger", 1).json(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // anti-join = idempotent under at-least-once replay
          val novel = batch.join(
            spark.read.parquet(codesPath).select("vec_id"),
            Seq("vec_id"), "left_anti")
          Indexed.appendCodes(spark, base, Indexed.PqCodes, novel)
          ()
        }
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(tmpDir("stream-idx-ckpt1"))

    val expected = Indexed.PqCodes.encode(spark, base)(full)
      .collect().map(_.toSeq).toSet
    def stored(): Set[Seq[Any]] = spark.read.parquet(codesPath)
      .select("vec_id", "code0", "code1", "code2", "code3")
      .collect().map(_.toSeq).toSet
    assert(stored() === expected)

    // replay the whole source from a FRESH checkpoint: every row is a
    // duplicate, the anti-join drops them all, the table is unchanged
    drain(tmpDir("stream-idx-ckpt2"))
    assert(stored() === expected)
  }
}
