package graft

import graft.embed.HashingEmbedder
import graft.functions.VectorFunctions.euclidean
import graft.index.{IndexBuild, Pivots}
import graft.operators.Knn
import org.apache.spark.sql.functions._

/** Build-once / serve-many: kNN served from the materialized IVF table
  * must agree with a fresh computation over the raw data, while its
  * plan prunes partitions + row groups.
  */
class IndexedSearchSpec extends SparkSuite {

  test("searchIndexed == fresh computation over the probed clusters") {
    val out = tmpDir("serve-ivf") + "/vectors"
    val e = HashingEmbedder(dims = 64)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text"))
    // build the index once
    val sample = graft.embed.Embedder.embedText(docs.limit(100), "text", e)
      .select("id", "embedding")
    val pivots = Pivots.fromSample(sample, "id", "embedding", 5)
    IndexBuild.buildFromDocuments(docs, "id", "text", e, pivots, out)

    val q = e.embedOne("spark table scan merge")
    val served = Knn.searchIndexed(spark, out, pivots, q, 10, nprobe = 2, eps = 1.0)

    // plan must show partition pruning on cluster
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"), plan.take(2000))

    // equivalence: recompute from the index table without the serving path
    val t = spark.read.parquet(out)
    val qDists = pivots.map { p =>
      math.sqrt(p.zip(q).map { case (a, b) => val d = a.toDouble - b; d * d }.sum)
    }
    val probes = qDists.zipWithIndex.sortBy { case (d, i) => (d, i) }.take(2).map(_._2)
    val lo = qDists.head * 0.0; val hi = qDists.head * 2.0
    val expected = t.filter(col("cluster").isin(probes: _*))
      .filter(col("dist0") > lo && col("dist0") < hi)
      .withColumn("dist", euclidean(col("embedding"), typedlit(q.toSeq)))
      .orderBy(col("dist").asc, col("id").asc).limit(10)
      .select("id").collect().map(_.getString(0)).toSeq

    val got = served.select("id").collect().map(_.getString(0)).toSeq
    assert(got === expected)
    assert(got.size === 10)
  }

  test("searchIndexed with the query on pivot 0, every cluster probed and eps 1e9 == brute-force top-k") {
    val out = tmpDir("serve-ivf-pivot0") + "/vectors"
    val e = HashingEmbedder(dims = 64)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text"))
    val sample = graft.embed.Embedder.embedText(docs.limit(100), "text", e)
      .select("id", "embedding")
    val pivots = Pivots.fromSample(sample, "id", "embedding", 5)
    IndexBuild.buildFromDocuments(docs, "id", "text", e, pivots, out)
    // the query's distance to pivot 0 is 0, so its dist0 band has zero width
    val q = pivots.head.toArray
    val got = Knn.searchIndexed(spark, out, pivots, q, 10, nprobe = pivots.size, eps = 1e9)
      .select("id", "dist").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val want = spark.read.parquet(out)
      .withColumn("dist", euclidean(col("embedding"), typedlit(q.toSeq)))
      .orderBy(col("dist").asc, col("id").asc).limit(10)
      .select("id", "dist").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(want.size === 10 && want.head._2 === 0.0)
    assert(got === want)
  }

  test("a second searchIndexed over an unchanged table runs one job: no schema inference") {
    val out = tmpDir("serve-ivf-jobs") + "/vectors"
    val e = HashingEmbedder(dims = 64)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text"))
    val sample = graft.embed.Embedder.embedText(docs.limit(100), "text", e)
      .select("id", "embedding")
    val pivots = Pivots.fromSample(sample, "id", "embedding", 5)
    IndexBuild.buildFromDocuments(docs, "id", "text", e, pivots, out)
    val q = e.embedOne("spark table scan merge")
    def serve() = Knn.searchIndexed(spark, out, pivots, q, 10, nprobe = 2, eps = 1.0).collect()
    val first = serve()
    val (second, p) = graft.core.QueryProfile.run(spark)(serve())
    assert(second.toSeq === first.toSeq && second.length === 10)
    assert(p.jobs.size === 1, s"a repeat serve ran ${p.jobs.size} jobs")
  }

  test("q_v9_indexed_range: served-from-index result == raw-table recomputation") {
    import graft.operators.Indexed
    val got = Indexed.v9IndexedRange(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.size === Indexed.K)

    // independent formulation: recompute cluster/dist0 from the raw
    // embeddings table (no materialized index involved)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val pivots = IndexBuild.pivotsFromIds(emb, "vec_id", Knn.PivotIds)
    val qv = emb.filter(col("vec_id") === Knn.QueryId)
      .select("embedding").head().getSeq[Float](0)
    val qDists = pivots.map { p =>
      math.sqrt(p.zip(qv).map { case (a, b) =>
        val dd = a.toDouble - b.toDouble; dd * dd }.sum)
    }
    val probes = qDists.zipWithIndex.sortBy { case (dd, i) => (dd, i) }
      .take(Indexed.NProbe).map(_._2)
    val lo = qDists.head * Indexed.BandLo; val hi = qDists.head * Indexed.BandHi
    val expected = IndexBuild.withPivotColumns(
        emb.select(col("vec_id").as("id"), col("embedding")), pivots)
      .filter(col("cluster").isin(probes: _*))
      .filter(col("dist0") > lo && col("dist0") < hi)
      .withColumn("dist", euclidean(col("embedding"), typedlit(qv)))
      .orderBy(col("dist").asc, col("id").asc).limit(Indexed.K)
      .select(col("id"), col("cluster").cast("long"), round(col("dist"), 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expected)
  }

  test("q_v10_ivf_kmeans: serving literals == the materialized centroid parquet") {
    import graft.operators.Indexed
    val got = Indexed.v10IvfKmeans(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.size === Indexed.K)

    // independent formulation reading the WRITTEN centroid parquet (also
    // proves the stored file is what serving actually used)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cent = spark.read.parquet(Indexed.Centroids.path(sf0001))
    assert(cent.count() === Indexed.CentroidK)
    val qv = emb.filter(col("vec_id") === Knn.QueryId)
      .select("embedding").head().getSeq[Float](0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("vd").asc, col("cid").asc)
    val assign = emb.crossJoin(broadcast(cent))
      .withColumn("vd", euclidean(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cluster"), col("embedding"))
    val qDists = cent.orderBy("cid").collect().map { r =>
      val c = r.getSeq[Float](1)
      math.sqrt(c.zip(qv).map { case (a, b) =>
        val dd = a.toDouble - b.toDouble; dd * dd }.sum)
    }.toSeq
    val probes = qDists.zipWithIndex.sortBy { case (dd, i) => (dd, i) }
      .take(Indexed.NProbe).map(_._2)
    val expected = assign.filter(col("cluster").isin(probes: _*))
      .withColumn("dist", euclidean(col("embedding"), typedlit(qv)))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(Indexed.K)
      .select(col("vec_id"), col("cluster").cast("long"), round(col("dist"), 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === expected)
  }

  test("KMeans-learned pivots: balanced clusters, served kNN recall vs exact") {
    val out = tmpDir("kmeans-ivf") + "/vectors"
    val e = HashingEmbedder(dims = 64)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id").cast("string").as("id"), col("text"))
    val embedded = graft.embed.Embedder.embedText(docs, "text", e)
      .select("id", "embedding")
    val pivots = Pivots.learnKMeans(embedded, "embedding", k = 8)
    assert(pivots.size === 8)
    IndexBuild.write(IndexBuild.withPivotColumns(embedded, pivots), out)

    val t = spark.read.parquet(out)
    val sizes = t.groupBy("cluster").count().collect().map(_.getLong(1))
    assert(sizes.length === 8, "every learned centroid should own vectors")
    assert(sizes.max < t.count(), "clusters must actually partition the data")

    // serve with nprobe=3 and compare against exact over everything
    val q = e.embedOne("spark join filter table")
    val exact = t
      .withColumn("dist", euclidean(col("embedding"), typedlit(q.toSeq)))
      .orderBy(col("dist").asc, col("id").asc).limit(10)
      .select("id").collect().map(_.getString(0)).toSet
    val served = Knn.searchIndexed(spark, out, pivots, q, 10, nprobe = 3, eps = 10)
      .select("id").collect().map(_.getString(0)).toSet
    val recall = exact.count(served.contains).toDouble / exact.size
    info(s"kmeans-ivf nprobe=3/8 recall@10 = $recall")
    // deterministic (seeded KMeans + deterministic embedder): measured
    // 0.9 on this fixture; assert the bound COVERAGE.md documents
    assert(recall >= 0.8)
  }

  test("q_v12_pq_adc: codes come from the stored codebook; PQ prune keeps real neighbors") {
    import graft.operators.Indexed
    val got = Indexed.v12PqAdc(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got.size === Indexed.K)
    // the stored codebook is what serving used
    val cb = spark.read.parquet(Indexed.PqBook.path(sf0001))
    assert(cb.count() === Indexed.PqM * Indexed.PqK)
    // the query vector itself survives the ADC prune and re-ranks first
    assert(got.head._1 === Knn.QueryId && got.head._3 === 0.0)
    // recall of the PQ-pruned result vs exact full-scan top-K
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === Knn.QueryId)
      .select("embedding").head().getSeq[Float](0)
    val exact = emb
      .withColumn("dist", euclidean(col("embedding"), typedlit(qv)))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(Indexed.K)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(got.map(_._1).toSet.contains).toDouble / exact.size
    info(s"PQ ADC (M=${Indexed.PqM}, K*=${Indexed.PqK}, topN=${Indexed.PqTopN}) recall@10 = $recall")
    assert(recall >= 0.5, s"ADC prune recall degraded: $recall")
    // approx distances are monotone-consistent: exact re-rank distances
    // in the output are sorted and the approx column is non-negative
    assert(got.map(_._3) === got.map(_._3).sorted)
    assert(got.forall(_._2 >= 0.0))
  }

  test("q_v14_ivfpq: IVF probe + PQ ADC compose; candidates confined to probed clusters") {
    import graft.operators.Indexed
    val got = Indexed.v14IvfPq(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got.size === Indexed.K)
    // the query vector survives probe + ADC prune and re-ranks first
    assert(got.head._1 === Knn.QueryId && got.head._4 === 0.0)
    // every result's cluster is one of the probed clusters: results come
    // only from cells the coarse quantizer selected
    assert(got.map(_._2).toSet.size <= Indexed.NProbe)
    // recall vs the exact full-scan top-K — bounded below by the v10
    // probe recall (the PQ prune inside probed cells keeps topN=100,
    // far above K)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qv = emb.filter(col("vec_id") === Knn.QueryId)
      .select("embedding").head().getSeq[Float](0)
    val exact = emb
      .withColumn("dist", euclidean(col("embedding"), typedlit(qv)))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(Indexed.K)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(got.map(_._1).toSet.contains).toDouble / exact.size
    info(s"IVF+PQ (nprobe=${Indexed.NProbe}/${Indexed.CentroidK}, M=${Indexed.PqM}, topN=${Indexed.PqTopN}) recall@10 = $recall")
    assert(recall >= 0.5, s"IVF+PQ recall degraded: $recall")
  }

  test("q_d12_semdedup: duplicates share the stored cluster and really exceed the threshold") {
    import graft.operators.Indexed
    val got = Indexed.d12SemDedup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty, "fixture should contain same-cluster near-dups at SemTau")
    val assign = spark.read.parquet(Indexed.assignPath(sf0001))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.size) {
        dp += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    got.foreach { case (vid, canon, nDups, maxSim) =>
      assert(canon < vid, "canonical is the lowest-id qualifying partner")
      assert(assign(canon) === assign(vid), "duplicate pairs must share the stored cluster")
      assert(cos(emb(vid), emb(canon)) >= Indexed.SemTau - 1e-9)
      assert(nDups >= 1 && maxSim >= Indexed.SemTau - 0.0006)
    }
    info(s"semantic duplicates on sf0.001: ${got.length}")
  }

  test("q_v13_sq8: integer code distances from stored bounds; prune keeps real neighbors") {
    import graft.operators.Indexed
    val got = Indexed.v13Sq8(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.size === Indexed.K)
    // the stored bounds table is what serving used, one row per dim
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    assert(spark.read.parquet(Indexed.Sq8Bounds.path(sf0001)).count() === dims)
    // the query vector codes to itself: approx2 = 0, exact dist = 0
    assert(got.head === ((Knn.QueryId, 0L, 0.0)))
    // 8-bit quantization error is tiny relative to neighbor gaps — the
    // 100-candidate integer prune should retain the exact top-10 intact
    val qv = emb.filter(col("vec_id") === Knn.QueryId)
      .select("embedding").head().getSeq[Float](0)
    val exact = emb
      .withColumn("dist", euclidean(col("embedding"), typedlit(qv)))
      .orderBy(col("dist").asc, col("vec_id").asc).limit(Indexed.K)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.count(got.map(_._1).toSet.contains).toDouble / exact.size
    info(s"SQ8 (topN=${Indexed.PqTopN}) recall@10 = $recall")
    assert(recall >= 0.9, s"SQ8 prune recall degraded: $recall")
  }
}
