package graft

import graft.functions.SrpKernel
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** The fused SRP bucket kernel must be bit-identical to the composed
  * 96-expression form (dot > 0 per projection) over the real corpus —
  * the same one-kernel-vs-HOF discipline as TextHashKernelsSpec.
  */
class SrpKernelSpec extends SparkSuite {

  test("SrpBuckets kernel == composed per-table sign buckets over the corpus") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val kernel = emb.select(col("vec_id"),
      SrpKernel.srpBuckets(col("embedding"), Dedup.SrpProj).as("b"))
    val composed = emb.select(col("vec_id"),
      array((0 until Dedup.SrpTables).map(t =>
        Dedup.srpBucket(col("embedding"), t)): _*).as("b"))
    // null-safe inequality: a plain =!= is NULL (filtered out) when
    // either side is null, which would hide exactly the null-semantics
    // divergences this spec exists to catch
    val mismatches = kernel.as("k")
      .join(composed.as("c"), col("k.vec_id") === col("c.vec_id"))
      .filter(!(col("k.b") <=> col("c.b")))
      .count()
    assert(mismatches === 0L)
  }

  test("null/empty embeddings bucket to zeros (composed-form/oracle CASE parity)") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(Seq.empty[Float])),
      (2L, None: Option[Seq[Float]]),
      (3L, Some(Seq.fill(64)(0.5f)))
    ).toDF("id", "embedding")
    val out = df.select(col("id"),
        SrpKernel.srpBuckets(col("embedding"), Dedup.SrpProj).as("b"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    // NULL embedding: dot(NULL)>0 is NULL -> CASE else-branch 0 per bit,
    // same as the DuckDB oracle — bucket 0 in every table, never null
    assert(out(2L) !== null)
    assert(out(2L).size === Dedup.SrpTables && out(2L).forall(_ === 0L))
    assert(out(1L).size === Dedup.SrpTables,
      "empty embedding yields a bucket per table (all dots are 0 -> bucket 0)")
    assert(out(1L).forall(_ === 0L))
    assert(out(3L).size === Dedup.SrpTables)
  }

  test("driver-side bucketsOf == the SrpBuckets kernel over the corpus") {
    val rows = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("embedding"),
        SrpKernel.srpBuckets(col("embedding"), Dedup.SrpProj))
      .collect()
    for (r <- rows)
      assert(SrpKernel.bucketsOf(r.getSeq[Float](0).toArray, Dedup.SrpProj).toSeq ===
        r.getSeq[Long](1))
  }
}

