package graft

import graft.core.{LocalRelationFold, Util}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Ascending, GreaterThan, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The optimizer rule that evaluates sorts, de-duplications, filters,
  * limits and projections over a driver-held frame: each query over a
  * local frame returns what the same query over the same rows read back
  * from parquet returns, and launches no Spark job.
  */
class LocalRelationFoldSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("l", LongType),
    StructField("d", DoubleType), StructField("u", LongType, nullable = false)))

  /** Rows with few distinct values per key (ties), nulls, NaN, -0.0 and
    * 0.0; `u` numbers the rows, so an order ending in `u` is total.
    */
  private def rows(seed: Long): Seq[Row] = {
    def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 5 -> g)
    val row = for {
      s <- orNull(Gen.oneOf("a", "b", "B", "ab", ""))
      l <- orNull(Gen.oneOf(-1L, 0L, 7L, Long.MaxValue))
      d <- orNull(Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5, -2.0, Double.PositiveInfinity))
    } yield (s, l, d)
    (for {
      n <- Gen.choose(30, 80)
      rs <- Gen.listOfN(n, row)
    } yield rs.zipWithIndex.map { case ((s, l, d), u) => Row(s, l, d, u.toLong) })
      .apply(Gen.Parameters.default, Seed(seed)).getOrElse(fail(s"no rows at seed $seed"))
  }

  private val queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "sort asc, multiple keys" -> (_.orderBy(col("s"), col("l"), col("d"), col("u"))),
    "sort desc" -> (_.orderBy(col("d").desc, col("s").desc, col("u").desc)),
    "nulls last / first" -> (_.orderBy(col("l").asc_nulls_last, col("d").desc_nulls_first,
      col("s").asc_nulls_last, col("u"))),
    "sort, then cast projection" -> (_.orderBy(col("d"), col("u"))
      .select(col("u").cast("int"), col("d").cast("float"), upper(col("s")))),
    "filter, sort, limit" -> (_.filter(col("l") >= 0 || col("d").isNaN)
      .orderBy(col("s").desc, col("u")).limit(9)),
    "sort, limit, filter" -> (_.orderBy(col("d"), col("u")).limit(20).filter(col("s").isNotNull)),
    "distinct over double and string keys" -> (_.select("d", "s").distinct()
      .orderBy(col("d"), col("s"))),
    "distinct over a long key, desc" -> (_.select("l").distinct().orderBy(col("l").desc)),
    "dropDuplicates on a double key" -> (_.orderBy("u").dropDuplicates("d")
      .select("d").orderBy("d")),
    "distinct, limit" -> (_.select("s").distinct().orderBy("s").limit(3)))

  private def canonical(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => ("double", java.lang.Double.doubleToLongBits(d))
    case f: Float => ("float", java.lang.Float.floatToIntBits(f))
    case x => x
  }

  test("each query over a local frame ≡ the same query over its rows read from parquet, with no job") {
    for (seed <- Seq(1L, 2L, 3L)) {
      val data = rows(seed)
      val local = Util.literalFrame(spark, data.toArray, schema)
      val path = tmpDir("fold") + "/t"
      local.coalesce(1).write.parquet(path)
      val stored = spark.read.parquet(path)
      for ((name, q) <- queries) {
        val (got, p) = graft.core.QueryProfile.run(spark)(q(local).collect())
        assert(p.jobs.isEmpty, s"seed $seed, $name: ${p.jobs.size} jobs")
        val want = q(stored).collect()
        assert(got.map(canonical).toSeq === want.map(canonical).toSeq, s"seed $seed, $name")
      }
    }
  }

  test("installing the rule twice leaves one instance") {
    LocalRelationFold.setup(spark)
    LocalRelationFold.setup(spark)
    assert(spark.experimental.extraOptimizations.count(_ eq LocalRelationFold) === 1)
  }

  test("a streaming relation and a nondeterministic sort or filter pass through unchanged") {
    val local = Util.literalFrame(spark, rows(4L).toArray, schema)
    val out = local.queryExecution.analyzed.output
    val data = local.queryExecution.optimizedPlan.asInstanceOf[LocalRelation].data
    val u = out.find(_.name == "u").get
    val plans: Seq[LogicalPlan] = Seq(
      Sort(Seq(SortOrder(u, Ascending)), global = true,
        LocalRelation(out, data, isStreaming = true)),
      Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true, LocalRelation(out, data)),
      Filter(GreaterThan(Rand(Literal(7L)), Literal(0.5)), LocalRelation(out, data)))
    plans.foreach(p => assert(LocalRelationFold(p).fastEquals(p), p.treeString))
  }
}
