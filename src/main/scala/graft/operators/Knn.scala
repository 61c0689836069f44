package graft.operators

import graft.core.Tables._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** kNN search — the reference's core query surface
  * (`/root/reference/src/search.ts`), re-expressed as declarative Spark
  * plans over the `embeddings` table.
  *
  * Three strategies, mirroring the reference one-to-one:
  *
  *  - [[fullScanKnn]] — exact scan + rank (`src/search.ts:5-17`). The
  *    ground-truth oracle for the approximate strategies, and the
  *    brute-force baseline for similarity search. Compiles to
  *    scan → project(distance) → TakeOrderedAndProject: no shuffle of
  *    the data, only k rows per partition surface to the driver-side
  *    final merge — this is the shape that survives 100 TB.
  *  - [[indexRangeKnn]] — the reference's pivot-distance range scan
  *    (`src/search.ts:19-54`): five range predicates around the query's
  *    own pivot distances, OR-ed into one scan, dedup by id, exact
  *    re-rank, top k. Against a materialized vectors table (see
  *    [[graft.index.IndexBuild]]) the `dist_i` predicates push down to
  *    parquet min/max stats, so the scan prunes row groups instead of
  *    full-scanning — the columnar analogue of the reference's five
  *    IndexedDB B-tree cursor scans, read once.
  *  - [[ivfKnn]] — IVF-style bucketed ANN (the scale path beyond the
  *    reference): every vector is assigned to its nearest pivot
  *    (= coarse centroid); a query probes only the `nprobe` nearest
  *    buckets and re-ranks exactly. With the table partitioned by
  *    `cluster` this prunes whole partitions at planning time.
  *
  * Every strategy reads the table once per search and moves no vector
  * to the driver. Exact and IVF search compile to one
  * TakeOrderedAndProject. Range and similarity search run one job whose
  * tasks keep bounded per-partition top lists of (id, distances), which
  * the driver merges, de-duplicates, re-ranks and cuts to k
  * ([[oneScanTopK]]); their driver state is bounded by the lists' sizes,
  * the candidate set the reference holds in browser memory
  * (`src/search.ts:21-48`), never by the table.
  */
object Knn {

  /** Pivot ids (the reference hard-codes 10 pivot vectors and uses 5,
    * `src/vector.ts:43`, `src/database.ts:195-198`; we derive pivots
    * from the data: the embeddings of these vec_ids).
    */
  val PivotIds: Seq[Int] = Seq(0, 1, 2, 3, 4)

  /** Query vector for the oracle-checked queries: embedding of this id. */
  val QueryId = 7

  /** Relative range window; the reference ships 0.003 tuned for MiniLM
    * distance spread (`src/search.ts:20`) — re-tuned here for the 64-d
    * synthetic embeddings so candidate sets are non-trivial.
    */
  val Eps = 0.05

  /** Fetch one embedding as a literal column (driver-side O(1) lookup —
    * the reference also embeds/holds the query vector driver-side).
    */
  private[graft] def embeddingLit(s: SparkSession, d: String, id: Int): Column = {
    val arr = embeddings(s, d).filter(col("vec_id") === id)
      .select("embedding").head().getSeq[Float](0)
    typedlit(arr)
  }

  private[operators] def pivotLits(s: SparkSession, d: String): Seq[Column] = {
    val rows = embeddings(s, d)
      .filter(col("vec_id").isin(PivotIds: _*))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Float](1)).toMap
    PivotIds.map(id => typedlit(rows(id)))
  }

  /** Exact kNN over any (id, embedding) DataFrame — the reusable core
    * behind both the oracle query and the `GraftDb` facade
    * (`vectorSearchFullScan`, `src/search.ts:5-17`).
    */
  def fullScanKnnOn(v: DataFrame, idCol: String, embCol: String, q: Column,
      k: Int): DataFrame =
    v.withColumn("dist", euclidean(col(embCol), q))
      .orderBy(col("dist").asc, col(idCol).asc)
      .limit(k)

  /** Exact kNN: scan all, score, take k (reference full-scan strategy). */
  def fullScanKnn(s: SparkSession, d: String, q: Column, k: Int): DataFrame =
    fullScanKnnOn(embeddings(s, d), "vec_id", "embedding", q, k)

  /** Query-to-pivot distances, evaluated once on the driver by the
    * same Catalyst kernel every scan uses ([[euclideanOfLiterals]]).
    */
  private[graft] def qPivotDists(piv: Seq[Column], q: Column): Seq[Double] =
    piv.map(euclideanOfLiterals(_, q))

  /** Pivot-range kNN over any (id, embedding) DataFrame
    * (`vectorSearchIndexRange`, `src/search.ts:19-54`): one scan keeping
    * the rows inside any pivot's band (the same id set as a union of the
    * per-pivot range scans, read once), each partition's nearest k
    * distinct ids merged on the driver ([[oneScanTopK]]). An id that
    * occurs in several band rows counts once, at its nearest row.
    */
  def indexRangeKnnOn(v: DataFrame, idCol: String, embCol: String, q: Column,
      pivots: Seq[Column], k: Int, eps: Double): DataFrame = {
    val qDists = qPivotDists(pivots, q)
    val inAnyBand = pivots.indices.map { i =>
      val di = euclidean(col(embCol), pivots(i))
      di > qDists(i) * (1 - eps) && di < qDists(i) * (1 + eps)
    }.reduce(_ || _)
    val proj = v.filter(inAnyBand)
      .select(col(idCol), euclidean(col(embCol), q).as("dist"))
    oneScanTopK(proj, Seq(TopList.Spec(k, 1, asc = true, byId = true, None)), k)
  }

  /** Pivot-range kNN: one scan keeping the rows inside any of the five
    * bands around the query's own pivot distances → dedup → exact
    * re-rank → top k.
    */
  def indexRangeKnn(s: SparkSession, d: String, q: Column, k: Int, eps: Double): DataFrame =
    indexRangeKnnOn(embeddings(s, d), "vec_id", "embedding", q, pivotLits(s, d), k, eps)

  /** The reference's third strategy (`src/search.ts:56-108`,
    * `docsPerIndexSide = 100`): for each pivot, take the `perSide`
    * rows on each side of the query's own position in that pivot's
    * distance order (the "neighborhood of the insertion point"), union
    * all 2·P bands, dedup, exact re-rank.
    */
  def indexSimilarityKnn(s: SparkSession, d: String, q: Column, k: Int,
      perSide: Int): DataFrame =
    indexSimilarityKnnOn(embeddings(s, d), "vec_id", "embedding", q,
      pivotLits(s, d), k, perSide)

  /** Per-side pivot-neighborhood kNN over any (id, embedding) DataFrame
    * (`vectorSearchIndexSimilarity`, `src/search.ts:56-108`), in one
    * scan ([[oneScanTopK]]): the scan projects each row's distance to
    * the query and to every pivot, and keeps 2·P lists, the `perSide`
    * rows ordered by (dᵢ desc, id) at or below the query's own pivot
    * distance and by (dᵢ asc, id) above it. Rows tied on (dᵢ, id), which
    * only a repeated id can give, are cut nearest first. The union of
    * the lists is de-duplicated by id at each id's nearest row.
    */
  def indexSimilarityKnnOn(v: DataFrame, idCol: String, embCol: String,
      q: Column, pivots: Seq[Column], k: Int, perSide: Int): DataFrame = {
    val qDists = qPivotDists(pivots, q)
    val p = pivots.size
    val di = pivots.indices.map(i => euclidean(col(embCol), pivots(i)))
    // field 2+i: dᵢ; field 2+P+i: dᵢ > the query's dᵢ, null on a null vector
    val proj = v.select(Seq(col(idCol), euclidean(col(embCol), q).as("dist")) ++
      di.zipWithIndex.map { case (c, i) => c.as(s"d$i") } ++
      di.zipWithIndex.map { case (c, i) => (c > qDists(i)).as(s"above$i") }: _*)
    val specs = pivots.indices.flatMap { i =>
      Seq(TopList.Spec(perSide, 2 + i, asc = false, byId = false, Some((2 + p + i, false))),
        TopList.Spec(perSide, 2 + i, asc = true, byId = false, Some((2 + p + i, true))))
    }
    oneScanTopK(proj, specs, k)
  }

  /** One search in one Spark job, over `proj` = (id, dist, ...) with no
    * vectors. Every partition keeps one bounded [[TopList]] per spec,
    * and the driver merges each partition's lists as it finishes (a
    * `runJob` result handler, the way `RDD.takeOrdered` merges), so it
    * holds at most the lists' entries plus one partition's lists. The
    * union of the merged lists is de-duplicated by id at each id's
    * nearest row, ranked by (dist, id) and cut to `k`, and returned as a
    * local frame of (id, dist). All values come from the projection's
    * Catalyst expressions; every order is Catalyst's own
    * (`InterpretedOrdering`), so ties and NaN order as Spark's sort
    * orders them.
    */
  private def oneScanTopK(proj: DataFrame, specs: Seq[TopList.Spec], k: Int): DataFrame = {
    val schema = proj.schema
    val idType = schema(0).dataType
    val lists = specs.map(_.make(idType))
    proj.sparkSession.sparkContext.runJob(proj.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => {
        val local = specs.map(_.make(idType))
        it.foreach(r => local.foreach(_.offer(r)))
        local.map(_.rows.toArray).toArray
      },
      (_: Int, part: Array[Array[InternalRow]]) =>
        lists.zip(part).foreach { case (l, rows) => rows.foreach(l.offer) })
    val nearest = TopList.Spec(k, 1, asc = true, byId = true, None).make(idType)
    lists.foreach(_.rows.foreach(nearest.offer))
    val toId = CatalystTypeConverters.createToScalaConverter(idType)
    graft.core.Util.literalFrame(proj.sparkSession,
      nearest.rows.sorted(nearest.ord).map(r => Row(toId(r.get(0, idType)),
        if (r.isNullAt(1)) null else r.getDouble(1))).toArray,
      StructType(Seq(schema(0), schema(1))))
  }

  /** IVF ANN: assign every vector to its nearest pivot (coarse
    * quantization), probe the query's `nprobe` nearest buckets, exact
    * re-rank inside them.
    */
  def ivfKnn(s: SparkSession, d: String, q: Column, k: Int, nprobe: Int): DataFrame = {
    val piv = pivotLits(s, d)
    val v = embeddings(s, d)
    val distCols = piv.map(p => euclidean(col("embedding"), p))
    val distArr = array(distCols: _*)
    // first index of the minimal distance = cluster id (ties → lowest id)
    val cluster = (array_position(distArr, array_min(distArr)) - 1).cast("int")
    val qDists = qPivotDists(piv, q)
    val probes = qDists.zipWithIndex.sortBy { case (dist, pid) => (dist, pid) }
      .take(nprobe).map(_._2)
    v.withColumn("cluster", cluster)
      .filter(col("cluster").isin(probes: _*))
      .withColumn("dist", euclidean(col("embedding"), q))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(k)
      .select("vec_id", "cluster", "dist")
  }

  /** Serve kNN from a materialized index table
    * ([[graft.index.IndexBuild]] layout: partitioned by `cluster`,
    * sorted by `dist0` within partitions). The `cluster isin probes`
    * predicate prunes whole partition directories at planning time and
    * the `dist0` band prunes row groups via parquet stats — this is the
    * build-once / serve-many path, the columnar analogue of the
    * reference's persistent B-tree index.
    *
    * @param pivots the pivots the index was built with
    */
  def searchIndexed(s: SparkSession, indexPath: String, pivots: Seq[Seq[Float]],
      q: Array[Float], k: Int, nprobe: Int, eps: Double = 0.5): DataFrame = {
    val qDists = qPivotDists(pivots.map(typedlit(_)), typedlit(q.toSeq))
    val probes = qDists.zipWithIndex.sortBy { case (dd, pid) => (dd, pid) }
      .take(nprobe).map(_._2)
    // the dist0 band is relative to the query's distance to pivot 0: a
    // query ON pivot 0 has a zero-width band that would admit nothing,
    // so it is scanned with no band and the probed clusters alone bound
    // the scan
    val lo = qDists.head * (1 - eps); val hi = qDists.head * (1 + eps)
    val band = if (qDists.head > 0) col("dist0") > lo && col("dist0") < hi else lit(true)
    graft.core.Util.readParquet(s, indexPath)
      .filter(col("cluster").isin(probes: _*)) // partition pruning
      .filter(band)                             // row-group stats pruning
      .withColumn("dist", euclidean(col("embedding"), typedlit(q.toSeq)))
      .orderBy(col("dist").asc, col("id").asc)
      .limit(k)
      .select("id", "cluster", "dist")
  }

  // ------------------------------------------------------------ queries

  /** V1: exact full-scan kNN (J3 θ-join + A3 top-k + O6). */
  val v1FullScan: Relational.Q = (s, d) =>
    fullScanKnn(s, d, embeddingLit(s, d, QueryId), 10)
      .select(col("vec_id"), round(col("dist"), 3).as("dist"))

  /** V2: pivot-range kNN (the reference's indexed strategy). */
  val v2IndexRange: Relational.Q = (s, d) => {
    val out = indexRangeKnn(s, d, embeddingLit(s, d, QueryId), 10, Eps)
    out.select(col("vec_id"), round(col("dist"), 3).as("dist"))
  }

  /** V3: brute-force cosine top-k (similarity-search baseline), query
    * excluded from its own result set.
    */
  val v3CosineTopk: Relational.Q = (s, d) => {
    val q = embeddingLit(s, d, QueryId)
    embeddings(s, d)
      .filter(col("vec_id") =!= QueryId)
      .withColumn("sim", cosine(col("embedding"), q))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), round(col("sim"), 3).as("sim"))
  }

  /** V4: IVF-bucketed ANN, nprobe=2. */
  val v4Ivf: Relational.Q = (s, d) =>
    ivfKnn(s, d, embeddingLit(s, d, QueryId), 10, 2)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        round(col("dist"), 3).as("dist"))

  /** J1: result hydration — top-k ids joined back to `documents` for the
    * payload, rank order preserved (reference `src/index.ts:103-108`).
    * The tiny top-k side is broadcast; `documents` never shuffles.
    */
  val j1Hydrate: Relational.Q = (s, d) => {
    val topk = fullScanKnn(s, d, embeddingLit(s, d, QueryId), 10)
      .select(col("vec_id"), col("dist"))
    documents(s, d)
      .join(broadcast(topk), col("doc_id") === col("vec_id"))
      .orderBy(col("dist").asc, col("doc_id").asc) // order by UNrounded dist
      .select(col("doc_id"), round(col("dist"), 3).as("dist"),
        col("lang"), col("source"), col("n_chars"))
  }

  // The oracle SQL mirrors each strategy with explicit unnest-zip
  // arithmetic (DuckDB zips parallel unnests positionally), computing in
  // DOUBLE in index order exactly like the Catalyst kernels.
  private val qDistCte =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QueryId),
       |d AS (
       |  SELECT vec_id, sqrt(sum((a-b)*(a-b))) AS dist
       |  FROM (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS a,
       |               unnest(q.qe)::DOUBLE AS b
       |        FROM embeddings e CROSS JOIN q) z
       |  GROUP BY vec_id
       |)""".stripMargin

  /** V5: per-side pivot-neighborhood strategy (docsPerIndexSide=100). */
  val v5IndexSimilarity: Relational.Q = (s, d) =>
    indexSimilarityKnn(s, d, embeddingLit(s, d, QueryId), 10, 100)
      .select(col("vec_id"), round(col("dist"), 3).as("dist"))

  /** V7: per-dimension embedding statistics — the embedding-QA /
    * drift-monitoring sweep a production vector pipeline runs over every
    * new corpus batch. posexplode keeps it one scan + one shuffle on the
    * 64 dimension keys (map-side partial aggs carry almost nothing).
    */
  val v7EmbedStats: Relational.Q = (s, d) =>
    embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).cast("long").as("dim"), col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(round(avg("v"), 4).as("avg_v"),
        round(min("v"), 4).as("min_v"),
        round(max("v"), 4).as("max_v"))
      .orderBy("dim")

  /** V6: filtered ("hybrid") kNN — metadata predicate + vector ranking
    * in one plan, the vector-DB feature the reference lacks. The filter
    * sits below the distance projection, so pruned rows are never
    * scored, and with a label-partitioned layout it prunes partitions.
    */
  val v6KnnFiltered: Relational.Q = (s, d) => {
    val q = embeddingLit(s, d, QueryId)
    embeddings(s, d)
      .filter(col("label").isin(1, 2, 3) && col("vec_id") =!= QueryId)
      .withColumn("dist", euclidean(col("embedding"), q))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(col("dist"), 3).as("dist"))
  }

  /** V8: batch kNN serving — N query vectors answered in ONE corpus
    * pass: broadcast the query set, score every (query, vector) pair,
    * then per-query top-k via the bounded-heap aggregate
    * ([[graft.functions.TopKRows]], score = -dist so the heap keeps
    * nearest; only k rows per query per partition reach the shuffle).
    * This is the amortized shape online serving compiles to when
    * queries arrive in micro-batches — per-query TakeOrdered would
    * rescan the corpus N times.
    */
  val v8BatchKnn: Relational.Q = (s, d) => {
    val qids = Seq(1, 2, 3, 4, 5)
    val qs = embeddings(s, d).filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    embeddings(s, d)
      .join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(col("qid"),
        (-euclidean(col("embedding"), col("qe"))).as("nscore"),
        col("vec_id"))
      .groupBy("qid")
      .agg(graft.functions.TopKRows.topK(
        col("nscore"), col("vec_id"), lit(0), 5).as("tops"))
      .select(col("qid"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("qid"), col("t.id1").as("vec_id"),
        round(-col("t.score"), 3).as("dist"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** Query batch for the v15 recall/cost evaluation. */
  val EvalQids: Seq[Int] = (1 to 10)
  val EvalK = 10

  /** V15: recall/cost evaluation of the banded index strategy against
    * the exact scan — the reference's OWN validation harness made a
    * first-class operator: every strategy there returns `docReads`
    * alongside results (`/root/reference/src/search.ts:16,52,107`) and
    * the (structurally present) oracle cross-check compares exact vs
    * indexed rankings (`src/index.ts:77-101`). Per query in a batch:
    * the exact top-K, the pivot-0-band candidate set (the v9 band
    * semantics), its size (the docReads analogue), and recall@K of the
    * banded result — all integers, so the row is hash-exact across
    * engines. One corpus pass computes both strategies (broadcast
    * query batch, bounded-heap top-K per side); at 100 TB this is the
    * recurring index-quality audit job that decides eps/nprobe tuning.
    */
  val v15RecallEval: Relational.Q = (s, d) => {
    val pls = pivotLits(s, d)
    val e = embeddings(s, d).select(
      col("vec_id") +: col("embedding") +:
        pls.indices.map(i => euclidean(col("embedding"), pls(i)).as(s"dist$i")): _*)
    val qs = e.filter(col("vec_id").isin(EvalQids: _*))
      .select(col("vec_id").as("qid") +: col("embedding").as("qe") +:
        pls.indices.map(i => col(s"dist$i").as(s"qd$i")): _*)
    val scored = e.join(broadcast(qs), col("vec_id") =!= col("qid"))
      .withColumn("dist", euclidean(col("embedding"), col("qe")))
    val topIds: Column =
      transform(graft.functions.TopKRows.topK(
        -col("dist"), col("vec_id"), lit(0), EvalK), t => t.getField("id1"))
    val exact = scored.groupBy("qid").agg(topIds.as("exact_ids"))
    // the strategy under evaluation IS the reference's: union of the
    // five relative pivot windows (indexDistance, src/search.ts:20,27).
    // Both engines multiply the same qd bits by the same parsed double,
    // so band membership cannot flip.
    val inBand = pls.indices.map { i =>
      col(s"dist$i") > col(s"qd$i") * (1 - Eps) &&
        col(s"dist$i") < col(s"qd$i") * (1 + Eps)
    }.reduce(_ || _)
    val band = scored.filter(inBand)
    val banded = band.groupBy("qid").agg(
      count(lit(1)).as("docreads"), topIds.as("approx_ids"))
    qs.select("qid")
      .join(exact, Seq("qid"), "left")
      .join(banded, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("docreads"), lit(0L)).as("docreads"),
        coalesce(size(array_intersect(col("exact_ids"), col("approx_ids"))), lit(0))
          .cast("long").as("recall10"))
      .orderBy("qid")
  }

  /** Radius for the v11 range search: between the corpus's 5th
    * percentile and median query-distance, so the result is a
    * meaningful neighborhood (~5-10% of vectors) at every sf. The
    * membership test compares bit-identical doubles in both engines
    * (same kernel semantics), so the literal boundary is safe.
    */
  val Radius = 1.3

  /** V11: radius (range) search — all vectors within `Radius` of the
    * query, nearest first. The "give me everything this similar"
    * sibling of top-k: one scan, the distance filter sits below the
    * sort, and only matching rows reach it.
    */
  val v11Radius: Relational.Q = (s, d) => {
    val q = embeddingLit(s, d, QueryId)
    embeddings(s, d)
      .filter(col("vec_id") =!= QueryId)
      .withColumn("dist", euclidean(col("embedding"), q))
      .filter(col("dist") < Radius)
      .orderBy(col("dist").asc, col("vec_id").asc)
      .select(col("vec_id"), round(col("dist"), 3).as("dist"))
  }

  val queries: Map[String, Relational.Q] = Map(
    "q_v15_recall_eval" -> v15RecallEval,
    "q_v11_radius" -> v11Radius,
    "q_v6_knn_filtered" -> v6KnnFiltered,
    "q_v8_batch_knn" -> v8BatchKnn,
    "q_v7_embed_stats" -> v7EmbedStats,
    "q_v1_knn_fullscan" -> v1FullScan,
    "q_v2_knn_range" -> v2IndexRange,
    "q_v3_cosine_topk" -> v3CosineTopk,
    "q_v4_ivf" -> v4Ivf,
    "q_v5_index_similarity" -> v5IndexSimilarity,
    "q_j1_hydrate" -> j1Hydrate,
  )

  val oracleSql: Map[String, String] = Map(
    // v15: exact vs banded recall/docreads — every output is an integer,
    // and both engines compute distances with the bit-identical
    // unnest-zip double accumulation, so band membership and top-K
    // boundaries cannot flip
    "q_v15_recall_eval" ->
      s"""WITH piv AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |             WHERE vec_id IN (${PivotIds.mkString(",")})),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |vp AS (
         |  SELECT vec_id, pid, sqrt(sum((a-b)*(a-b))) AS vd
         |  FROM (SELECT e.vec_id, p.pid, unnest(e.embedding)::DOUBLE AS a,
         |               unnest(p.pe)::DOUBLE AS b
         |        FROM e CROSS JOIN piv p) z
         |  GROUP BY vec_id, pid
         |),
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qe FROM e
         |  WHERE vec_id IN (${EvalQids.mkString(",")})
         |),
         |pd AS (
         |  SELECT qid, vec_id, sqrt(sum((a-b)*(a-b))) AS dist
         |  FROM (SELECT q.qid, e.vec_id, unnest(e.embedding)::DOUBLE AS a,
         |               unnest(q.qe)::DOUBLE AS b
         |        FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) z
         |  GROUP BY qid, vec_id
         |),
         |exact AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rn
         |    FROM pd) t
         |  WHERE rn <= $EvalK
         |),
         |band AS (
         |  SELECT DISTINCT pd.qid, pd.vec_id, pd.dist
         |  FROM pd
         |  JOIN vp ON vp.vec_id = pd.vec_id
         |  JOIN vp qv ON qv.vec_id = pd.qid AND qv.pid = vp.pid
         |  WHERE vp.vd > qv.vd * ${1 - Eps} AND vp.vd < qv.vd * ${1 + Eps}
         |),
         |appr AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id ASC) AS rn
         |    FROM band) t
         |  WHERE rn <= $EvalK
         |),
         |reads AS (SELECT qid, count(*) AS docreads FROM band GROUP BY qid),
         |rec AS (
         |  SELECT x.qid, count(*) AS recall10
         |  FROM exact x JOIN appr a ON a.qid = x.qid AND a.vec_id = x.vec_id
         |  GROUP BY x.qid
         |)
         |SELECT q.qid, coalesce(r.docreads, 0::BIGINT) AS docreads,
         |       coalesce(c.recall10, 0::BIGINT) AS recall10
         |FROM q LEFT JOIN reads r ON r.qid = q.qid LEFT JOIN rec c ON c.qid = q.qid
         |ORDER BY q.qid""".stripMargin,
    "q_v11_radius" ->
      s"""$qDistCte
         |SELECT vec_id, round(dist,3) AS dist FROM d
         |WHERE vec_id <> $QueryId AND dist < $Radius
         |ORDER BY d.dist ASC, vec_id ASC""".stripMargin,
    "q_v6_knn_filtered" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QueryId),
         |z AS (
         |  SELECT e.vec_id, e.label, unnest(e.embedding)::DOUBLE AS a,
         |         unnest(q.qe)::DOUBLE AS b
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.label IN (1,2,3) AND e.vec_id <> $QueryId
         |),
         |d AS (SELECT vec_id, label, sqrt(sum((a-b)*(a-b))) AS dist
         |      FROM z GROUP BY vec_id, label)
         |SELECT vec_id, CAST(label AS BIGINT) AS label, round(dist,3) AS dist
         |FROM d ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_v8_batch_knn" ->
      """WITH qs AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
        |            WHERE vec_id IN (1,2,3,4,5)),
        |z AS (
        |  SELECT q.qid, e.vec_id, unnest(e.embedding)::DOUBLE AS a,
        |         unnest(q.qe)::DOUBLE AS b
        |  FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.qid
        |),
        |d AS (SELECT qid, vec_id, sqrt(sum((a-b)*(a-b))) AS dist
        |      FROM z GROUP BY qid, vec_id),
        |r AS (SELECT qid, vec_id, dist,
        |             row_number() OVER (PARTITION BY qid
        |                                ORDER BY dist ASC, vec_id ASC) AS rn
        |      FROM d)
        |SELECT qid, vec_id, round(dist,3) AS dist, rn FROM r
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,
    "q_v7_embed_stats" ->
      """SELECT i::BIGINT AS dim,
        |       round(avg(embedding[i]::DOUBLE), 4) AS avg_v,
        |       round(min(embedding[i]::DOUBLE), 4) AS min_v,
        |       round(max(embedding[i]::DOUBLE), 4) AS max_v
        |FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
        |GROUP BY i ORDER BY dim""".stripMargin,
    "q_v1_knn_fullscan" ->
      s"""$qDistCte
         |SELECT vec_id, round(dist,3) AS dist FROM d
         |ORDER BY d.dist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_v2_knn_range" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QueryId),
         |piv AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |        WHERE vec_id IN (${PivotIds.mkString(",")})),
         |qp AS (
         |  SELECT pid, sqrt(sum((a-b)*(a-b))) AS qd
         |  FROM (SELECT pid, unnest(pe)::DOUBLE AS a, unnest(q.qe)::DOUBLE AS b
         |        FROM piv CROSS JOIN q) z
         |  GROUP BY pid
         |),
         |vp AS (
         |  SELECT vec_id, pid, sqrt(sum((a-b)*(a-b))) AS vd
         |  FROM (SELECT e.vec_id, p.pid, unnest(e.embedding)::DOUBLE AS a,
         |               unnest(p.pe)::DOUBLE AS b
         |        FROM embeddings e CROSS JOIN piv p) z
         |  GROUP BY vec_id, pid
         |),
         |cand AS (
         |  SELECT DISTINCT vp.vec_id
         |  FROM vp JOIN qp ON vp.pid = qp.pid
         |  WHERE vp.vd > qp.qd * (1 - $Eps) AND vp.vd < qp.qd * (1 + $Eps)
         |),
         |rerank AS (
         |  SELECT vec_id, sqrt(sum((a-b)*(a-b))) AS dist
         |  FROM (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS a,
         |               unnest(q.qe)::DOUBLE AS b
         |        FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id
         |        CROSS JOIN q) z
         |  GROUP BY vec_id
         |)
         |SELECT vec_id, round(dist,3) AS dist FROM rerank
         |ORDER BY rerank.dist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_v5_index_similarity" -> {
      val bands = PivotIds.indices.flatMap { i =>
        Seq(
          s"""SELECT vec_id FROM (
             |  SELECT vp.vec_id FROM vp JOIN qp ON vp.pid = qp.pid
             |  WHERE vp.pid = ${PivotIds(i)} AND vp.vd <= qp.qd
             |  ORDER BY vp.vd DESC, vp.vec_id ASC LIMIT 100) b${i}lo""".stripMargin,
          s"""SELECT vec_id FROM (
             |  SELECT vp.vec_id FROM vp JOIN qp ON vp.pid = qp.pid
             |  WHERE vp.pid = ${PivotIds(i)} AND vp.vd > qp.qd
             |  ORDER BY vp.vd ASC, vp.vec_id ASC LIMIT 100) b${i}hi""".stripMargin)
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QueryId),
         |piv AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |        WHERE vec_id IN (${PivotIds.mkString(",")})),
         |qp AS (
         |  SELECT pid, sqrt(sum((a-b)*(a-b))) AS qd
         |  FROM (SELECT pid, unnest(pe)::DOUBLE AS a, unnest(q.qe)::DOUBLE AS b
         |        FROM piv CROSS JOIN q) z
         |  GROUP BY pid
         |),
         |vp AS (
         |  SELECT vec_id, pid, sqrt(sum((a-b)*(a-b))) AS vd
         |  FROM (SELECT e.vec_id, p.pid, unnest(e.embedding)::DOUBLE AS a,
         |               unnest(p.pe)::DOUBLE AS b
         |        FROM embeddings e CROSS JOIN piv p) z
         |  GROUP BY vec_id, pid
         |),
         |cand AS (
         |  SELECT DISTINCT vec_id FROM (
         |  $bands
         |  ) allb
         |),
         |rerank AS (
         |  SELECT vec_id, sqrt(sum((a-b)*(a-b))) AS dist
         |  FROM (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS a,
         |               unnest(q.qe)::DOUBLE AS b
         |        FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id
         |        CROSS JOIN q) z
         |  GROUP BY vec_id
         |)
         |SELECT vec_id, round(dist,3) AS dist FROM rerank
         |ORDER BY rerank.dist ASC, vec_id ASC LIMIT 10""".stripMargin
    },
    "q_v4_ivf" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QueryId),
         |piv AS (SELECT vec_id AS pid, embedding AS pe FROM embeddings
         |        WHERE vec_id IN (${PivotIds.mkString(",")})),
         |qp AS (
         |  SELECT pid, sqrt(sum((a-b)*(a-b))) AS qd
         |  FROM (SELECT pid, unnest(pe)::DOUBLE AS a, unnest(q.qe)::DOUBLE AS b
         |        FROM piv CROSS JOIN q) z
         |  GROUP BY pid
         |),
         |vp AS (
         |  SELECT vec_id, pid, sqrt(sum((a-b)*(a-b))) AS vd
         |  FROM (SELECT e.vec_id, p.pid, unnest(e.embedding)::DOUBLE AS a,
         |               unnest(p.pe)::DOUBLE AS b
         |        FROM embeddings e CROSS JOIN piv p) z
         |  GROUP BY vec_id, pid
         |),
         |assign AS (
         |  SELECT vec_id, pid AS cluster FROM (
         |    SELECT vec_id, pid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY vd ASC, pid ASC) AS rn
         |    FROM vp) t
         |  WHERE rn = 1
         |),
         |probes AS (
         |  SELECT pid FROM (
         |    SELECT pid, row_number() OVER (ORDER BY qd ASC, pid ASC) AS rn FROM qp) t
         |  WHERE rn <= 2
         |),
         |cand AS (
         |  SELECT a.vec_id, a.cluster FROM assign a JOIN probes p ON a.cluster = p.pid
         |),
         |rerank AS (
         |  SELECT vec_id, sqrt(sum((a-b)*(a-b))) AS dist
         |  FROM (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS a,
         |               unnest(q.qe)::DOUBLE AS b
         |        FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id
         |        CROSS JOIN q) z
         |  GROUP BY vec_id
         |)
         |SELECT r.vec_id, c.cluster, round(r.dist,3) AS dist
         |FROM rerank r JOIN cand c ON r.vec_id = c.vec_id
         |ORDER BY r.dist ASC, r.vec_id ASC LIMIT 10""".stripMargin,
    "q_v3_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QueryId),
         |d AS (
         |  SELECT vec_id,
         |         sum(a*b) / (sqrt(sum(a*a)) * sqrt(sum(b*b))) AS sim
         |  FROM (SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS a,
         |               unnest(q.qe)::DOUBLE AS b
         |        FROM embeddings e CROSS JOIN q
         |        WHERE e.vec_id <> $QueryId) z
         |  GROUP BY vec_id
         |)
         |SELECT vec_id, round(sim,3) AS sim FROM d
         |ORDER BY d.sim DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q_j1_hydrate" ->
      s"""$qDistCte,
         |topk AS (SELECT vec_id, dist FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10)
         |SELECT doc_id, round(t.dist,3) AS dist, lang, source, n_chars
         |FROM documents JOIN topk t ON doc_id = t.vec_id
         |ORDER BY t.dist ASC, doc_id ASC""".stripMargin,
  )
}

/** The `size` least rows under `ord` that pass `admit`, in a max-heap
  * that grows as rows are kept, so a size of the corpus or
  * `Int.MaxValue` costs only what is kept. A row is copied only when
  * kept. With `byId`, an id (field 0) holds one row, its least.
  */
private[operators] final class TopList(size: Int, val ord: Ordering[InternalRow],
    admit: InternalRow => Boolean, idType: Option[DataType]) {
  private val heap = new java.util.PriorityQueue[InternalRow](ord.reverse)
  private val ofId = scala.collection.mutable.HashMap.empty[Any, InternalRow]

  def offer(r: InternalRow): Unit =
    if (size > 0 && admit(r) && (heap.size < size || ord.lt(r, heap.peek))) idType match {
      case None =>
        heap.add(r.copy())
        if (heap.size > size) heap.poll()
        ()
      case Some(t) =>
        val kept = ofId.get(r.get(0, t))
        if (kept.forall(ord.lt(r, _))) {
          kept.foreach(heap.remove)
          val c = r.copy()
          heap.add(c); ofId(c.get(0, t)) = c
          if (heap.size > size) ofId.remove(heap.poll().get(0, t))
        }
    }

  def rows: Seq[InternalRow] = heap.toArray(Array.empty[InternalRow]).toSeq
}

private[operators] object TopList {
  /** A list over the rows (id, dist, ...): `size` rows ordered by field
    * `key` (`asc` or desc), then id, then dist; admitted where the
    * boolean field `test._1` is non-null and equals `test._2`.
    */
  final case class Spec(size: Int, key: Int, asc: Boolean, byId: Boolean,
      test: Option[(Int, Boolean)]) {
    def make(idType: DataType): TopList = {
      def by(field: Int, t: DataType, up: Boolean) =
        SortOrder(BoundReference(field, t, nullable = true), if (up) Ascending else Descending)
      val ord = new InterpretedOrdering(Seq(by(key, DoubleType, asc), by(0, idType, up = true)) ++
        (if (key == 1) Nil else Seq(by(1, DoubleType, up = true))))
      val admit: InternalRow => Boolean = test match {
        case None => _ => true
        case Some((f, want)) => r => !r.isNullAt(f) && r.getBoolean(f) == want
      }
      new TopList(size, ord, admit, if (byId) Some(idType) else None)
    }
  }
}
