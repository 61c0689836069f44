package graft

import graft.operators.Knn
import org.apache.spark.sql.functions._

/** The reference's own validation idea (SURVEY §5.1): the exact full
  * scan is ground truth for the approximate strategies — assert recall
  * and report the docReads analogue (candidates scanned).
  */
class KnnSpec extends SparkSuite {

  private def queryVec = {
    val arr = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") === Knn.QueryId).select("embedding")
      .head().getSeq[Float](0)
    typedlit(arr)
  }

  private lazy val exact: Seq[Long] =
    Knn.fullScanKnn(spark, sf0001, queryVec, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq

  test("full scan returns the query itself first with distance 0") {
    val top = Knn.fullScanKnn(spark, sf0001, queryVec, 1).head()
    assert(top.getAs[Long]("vec_id") === Knn.QueryId.toLong)
    assert(top.getAs[Double]("dist") === 0.0)
  }

  test("index-range recall vs exact oracle") {
    val approx = Knn.indexRangeKnn(spark, sf0001, queryVec, 10, Knn.Eps)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    info(s"indexRange recall@10 = $recall (candidates are eps-window dependent)")
    assert(approx.nonEmpty)
    assert(recall >= 0.1, "range strategy must find at least some true neighbors")
  }

  test("ivf with all clusters probed == exact") {
    val all = Knn.ivfKnn(spark, sf0001, queryVec, 10, Knn.PivotIds.size)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(all === exact, "probing every bucket must equal the exact scan")
  }

  test("ivf nprobe=2 recall and docReads accounting") {
    val probed = Knn.ivfKnn(spark, sf0001, queryVec, 10, 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(probed.contains).toDouble / exact.size
    // docReads analogue: how many rows the probe actually scanned
    val total = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    info(s"ivf nprobe=2 recall@10 = $recall, corpus = $total rows")
    assert(recall >= 0.3)
  }

  test("index-similarity (per-side bands) recall vs exact oracle") {
    val got = Knn.indexSimilarityKnn(spark, sf0001, queryVec, 10, 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    info(s"indexSimilarity recall@10 = $recall")
    // approximate by design: 2·P·perSide candidate bands, not full cover
    assert(recall >= 0.5)
  }

  test("top-k == sort-prefix property") {
    val k5 = Knn.fullScanKnn(spark, sf0001, queryVec, 5)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(k5 === exact.take(5))
  }

  test("q_v15_recall_eval: docreads bounded by corpus, recall bounded by K, batch complete") {
    val total = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    val rows = Knn.v15RecallEval(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq === Knn.EvalQids.map(_.toLong),
      "one row per eval query, in order")
    rows.foreach { case (qid, docreads, recall) =>
      assert(docreads >= 0 && docreads < total, s"q$qid reads must exclude self")
      assert(recall >= 0 && recall <= Knn.EvalK)
    }
    val meanRecall = rows.map(_._3).sum.toDouble / (rows.length * Knn.EvalK)
    info(f"5-band union @ eps=${Knn.Eps}: mean recall@10 = $meanRecall%.2f, " +
      f"mean docreads = ${rows.map(_._2).sum / rows.length}/$total")
    // the union of five pivot bands is the reference's serving strategy;
    // it should be near-exhaustive in recall on this fixture
    assert(meanRecall >= 0.8)
  }

  test("pivot range as one OR-filtered scan ≡ the union of per-pivot range scans (property, with ties)") {
    import graft.functions.VectorFunctions.euclidean
    import org.apache.spark.sql.{Column, DataFrame}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // the pre-rewrite form: one filtered scan per pivot, union, dedup
    def unionForm(v: DataFrame, q: Column, pivots: Seq[Column], k: Int,
        eps: Double): DataFrame = {
      val qd = pivots.map(p => v.limit(1).select(euclidean(p, q)).head().getDouble(0))
      pivots.indices.map { i =>
        val di = euclidean(col("embedding"), pivots(i))
        v.filter(di > qd(i) * (1 - eps) && di < qd(i) * (1 + eps)).select("id", "embedding")
      }.reduce(_ union _)
        .dropDuplicates("id")
        .withColumn("dist", euclidean(col("embedding"), q))
        .orderBy(col("dist").asc, col("id").asc)
        .limit(k)
        .select("id", "dist")
    }
    // small integer coordinates: many vectors share a distance to the
    // query and to each pivot, and some are exact duplicates
    val genVec: Gen[Seq[Float]] = Gen.listOfN(4, Gen.choose(-2, 2).map(_.toFloat))
    for (seed <- Seq(3L, 17L, 20261019L)) {
      val (vecs, pivs, q, eps) = (for {
        n <- Gen.choose(20, 60)
        vs <- Gen.listOfN(n, genVec)
        ps <- Gen.listOfN(5, genVec)
        qv <- Gen.oneOf(genVec, Gen.oneOf(vs))
        e <- Gen.oneOf(0.0, 0.05, 0.3, 1.0)
      } yield (vs, ps, qv, e)).apply(Gen.Parameters.default, Seed(seed))
        .getOrElse(fail(s"generator exhausted at seed $seed"))
      val v = vecs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "embedding")
      val pivots = pivs.map(typedlit(_))
      for (k <- Seq(3, vecs.size)) {
        def rows(df: DataFrame) =
          df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val got = rows(Knn.indexRangeKnnOn(v, "id", "embedding", typedlit(q), pivots, k, eps))
        val want = rows(unionForm(v, typedlit(q), pivots, k, eps))
        assert(got === want, s"seed $seed, k $k, eps $eps")
      }
    }
  }
}

