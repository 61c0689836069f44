package perfbench

import graft.api.{GraftCollection, GraftDb}
import graft.core.ArtifactStore
import graft.embed.HashingEmbedder
import graft.operators.{Graph, Indexed, Knn}
import graft.streaming.VectorPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The reference's vector path, with writes beside reads. A base corpus
  * is streamed through the index pipeline (embedding plus the pivot
  * layout) and built into the IVF and kNN-graph artifacts. Each round
  * then serves one base doc through the five search strategies, each
  * result hydrated; ingests one batch (insert, stream, IVF append with
  * the store's auto-compaction); searches for a new doc; upserts one
  * doc; runs one Mango find.
  *
  * Two artifacts are left out to keep a run short. The kNN graph serves
  * the base corpus and is not appended to: `Graph.appendKnnGraph` takes
  * about 12 s per 100-doc batch on a 400-doc graph (4 cores), longer
  * than building a 600-doc graph from scratch. PQ is not built: its
  * four codebooks cost about 11 s of k-means, and its append and
  * compaction run the same `Indexed` code as the IVF table's.
  */
object Vector {
  val Dims = 64 // the graph layer's LSH (Dedup.SrpProj) is 64-d
  val K = 10
  val Base = 500
  val Batch = 100
  val Nprobe = 2
  val PerSide = 100
  val Strategies = Seq("exact", "range", "similarity", "ivf", "graph")

  final case class Doc(id: Long, text: String, lang: String, source: String,
      nChars: Long, rating: Int, year: Int)

  /** Mango selectors and the same predicate in plain Scala. */
  val Selectors: Seq[(Map[String, Any], Doc => Boolean)] = Seq(
    Map("lang" -> "fr", "rating" -> Map("$gte" -> 4)) ->
      ((d: Doc) => d.lang == "fr" && d.rating >= 4),
    Map("$or" -> Seq(Map("source" -> "src3"), Map("year" -> Map("$lt" -> 2003)))) ->
      ((d: Doc) => d.source == "src3" || d.year < 2003),
    Map("n_chars" -> Map("$gt" -> 400), "lang" -> Map("$in" -> Seq("en", "de"))) ->
      ((d: Doc) => d.nChars > 400 && Set("en", "de")(d.lang)))

  /** The collections and artifacts of one run, under dataset dir `d`. */
  final class State(spark: SparkSession, val d: String, val pivots: Seq[Seq[Float]]) {
    val items: GraftCollection = GraftDb(spark, s"$d/db").collection("items")
    val src = s"$d/src"
    /** The pipeline's output: the pivot layout (`IndexBuild`), string ids. */
    val dest = s"$d/vectors"
    val layout: GraftCollection = GraftCollection(spark, dest)
    val pipeline = new VectorPipeline(spark, src, dest, s"$d/checkpoint",
      HashingEmbedder(Dims), pivots)
    def vectors: DataFrame = spark.read.parquet(dest)
      .select(col("id").cast("long").as("vec_id"), col("embedding"))
  }

  def rowsOf(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source, d.nChars, d.rating, d.year))
      .toDF("id", "text", "lang", "source", "n_chars", "rating", "year")
  }

  /** Drops `docs` into the pipeline's source as one JSON file and drains it. */
  def stream(spark: SparkSession, st: State, docs: Seq[Doc]): Long = {
    import spark.implicits._
    docs.map(d => (d.id.toString, d.text)).toDF("id", "body")
      .coalesce(1).write.mode("append").json(st.src)
    st.pipeline.runAvailableNow()
  }

  /** Result of one search: ids in rank order, the distances the program
    * reported (NaN where it reports a score instead), and the graph
    * walk's hop and visit counts. */
  final case class Hit(ids: Seq[Long], dists: Seq[Double], hops: Long = 0, visited: Long = 0)

  def search(spark: SparkSession, st: State, strategy: String, qv: Array[Float], q: Long,
      n: Int, exhaustive: Boolean = false): Hit = {
    def pairs(df: DataFrame): Hit = {
      val rows = df.select(col("id").cast("long"), col("dist")).collect()
      Hit(rows.map(_.getLong(0)).toSeq, rows.map(_.getDouble(1)).toSeq)
    }
    strategy match {
      case "exact" => pairs(st.layout.vectorSearchFullScan(qv.toSeq, K))
      case "range" => pairs(st.layout.vectorSearchIndexRange(qv.toSeq, st.pivots,
        if (exhaustive) 1e9 else Knn.Eps, K))
      case "similarity" => pairs(st.layout.vectorSearchIndexSimilarity(qv.toSeq, st.pivots,
        if (exhaustive) n else PerSide, K))
      case "ivf" => pairs(Knn.searchIndexed(spark, st.dest, st.pivots, qv, K,
        if (exhaustive) st.pivots.size else Nprobe, if (exhaustive) 1e9 else 0.5))
      case "graph" =>
        val rows = Graph.graphAnnBatchOn(graft.core.Tables.embeddings(spark, st.d),
          Graph.storedEdgesPartitioned(spark, st.d), Graph.storedBuckets(spark, st.d),
          col("vec_id") === q).orderBy("rk")
          .select(col("vec_id"), col("visited_n").cast("long"), col("hops_n").cast("long"))
          .collect()
        Hit(rows.map(_.getLong(0)).toSeq, rows.map(_ => Double.NaN).toSeq,
          rows.headOption.map(_.getLong(2)).getOrElse(0L),
          rows.headOption.map(_.getLong(1)).getOrElse(0L))
    }
  }

  def hydrate(coll: GraftCollection, ids: Seq[Long]): Seq[(Long, String)] =
    coll.findByIds("id", ids).select(col("id").cast("long"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq

  def run(ctx: Ctx, ops: Ops, out: Metrics): Unit = {
    val spark = ctx.spark
    val all = spark.read.parquet(s"${ctx.data}/documents.parquet").collect().map { r =>
      Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[Long]("n_chars"), r.getAs[Int]("rating"),
        r.getAs[Int]("year"))
    }.sortBy(_.id).toVector
    val text = all.map(d => d.id -> d.text).toMap
    val emb = HashingEmbedder(Dims)
    val st = new State(spark, s"${ctx.root}/vector",
      Knn.PivotIds.map(i => emb.embedOne(all(i).text).toSeq))
    val d = st.d
    val (base, rest) = all.splitAt(Base)
    val batches = rest.grouped(Batch).toVector
    Main.log("inputs read")

    // set-up: the base build
    def stage(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      ctx.tracer.span(s"build.$name")(f)
      name -> (System.nanoTime() - t0) / 1e9
    }
    val stages = ctx.tracer.span("setup")(Seq(
      stage("embed") {
        st.items.bulkInsert(rowsOf(spark, base))
        stream(spark, st, base)
        st.vectors.withColumn("label", (col("vec_id") % 10).cast("int"))
          .write.parquet(s"$d/embeddings.parquet")
      },
      stage("ivf") { Indexed.ensureCentroids(spark, d); Indexed.ensureAssignments(spark, d) },
      stage("graph")(Graph.ensureKnnGraph(spark, d))))
    val setupS = stages.map(_._2).sum
    out.e2e("setup_s") = setupS
    out.layer("build_docs_per_s") = Base / setupS
    stages.foreach { case (s, t) => out.layer(s"build.${s}_s") = t }
    val (files, bytes) = Seq(d, ArtifactStore.root).map(Fs.usage)
      .foldLeft((0L, 0L)) { case ((a, b), (c, e)) => (a + c, b + e) }
    out.layer("build.files") = files.toDouble
    out.layer("build.written_mb") = bytes / 1e6
    Main.log("set-up done")

    // the program's stored vectors, grown batch by batch: the corpus the
    // exact baseline is computed over
    val vecs = mutable.HashMap.empty[Long, Array[Float]]
    def load(ids: Seq[Long]): Unit =
      st.vectors.filter(col("vec_id").isin(ids: _*)).collect()
        .foreach(r => vecs(r.getLong(0)) = r.getSeq[Float](1).toArray)
    load(base.map(_.id))
    if (vecs.size != Base) ops.problems += s"${vecs.size} stored vectors for $Base docs"
    vecs.foreach { case (id, v) =>
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (v.length != Dims || math.abs(norm - 1) > 1e-4)
        ops.problems += s"vector $id has ${v.length} dims and norm $norm"
    }
    val mirror = mutable.LinkedHashMap.empty[Long, Doc] ++ base.map(x => x.id -> x)
    val recall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val hops = mutable.ArrayBuffer.empty[Double]
    val visited = mutable.ArrayBuffer.empty[Double]

    def serve(strategy: String, q: Long): Unit = {
      val truth = Brute.topK(vecs, vecs(q), K)
      ops.run(strategy) {
        val hit = ctx.tracer.span("query")(search(spark, st, strategy, vecs(q), q, vecs.size))
        hit -> ctx.tracer.span("hydrate")(hydrate(st.items, hit.ids))
      } { case (hit, rows) =>
        ops.digest(s"$strategy:$q:${vecs.size}", hit.ids.mkString(","))
        if (ops.timing) {
          recall.getOrElseUpdate(strategy, mutable.ArrayBuffer.empty) +=
            hit.ids.intersect(truth.map(_._1)).size / K.toDouble
          if (strategy == "graph") { hops += hit.hops; visited += hit.visited }
        }
        val found =
          if (strategy == "exact") Check.exact(hit.ids.zip(hit.dists), truth)
          // the graph walk ranks by its quantized score and reaches only
          // what its LSH seeds and beam touch, so it need not rediscover
          // the query doc itself
          else if (strategy == "graph")
            Check.approx(hit.ids, vecs, vecs(q), None, K,
              v => -Brute.quantDot(v, vecs(q)).toDouble, 0.0)
          else Check.approx(hit.ids, vecs, vecs(q), Some(q), K)
        found ++ Check.hydrated(rows, hit.ids, text)
      }
    }

    // store bookkeeping, observed from outside: a compaction shows as a
    // live file count that falls across an append
    var compactions = 0; var compactS = 0.0; var rewrittenMb = 0.0; var filesMax = 0
    def append(name: String, path: => String)(f: => Unit): Unit = {
      val before = ArtifactStore.dataFileCount(path)
      val t0 = System.nanoTime()
      ctx.tracer.span(s"append.$name")(f)
      val after = ArtifactStore.dataFileCount(path)
      filesMax = math.max(filesMax, math.max(before, after))
      if (after < before) {
        compactions += 1
        compactS += (System.nanoTime() - t0) / 1e9
        rewrittenMb += Fs.usage(path)._2 / 1e6
      }
    }

    def ingest(batch: Seq[Doc]): Unit =
      ops.run("ingest") {
        ctx.tracer.span("insert")(st.items.bulkInsert(rowsOf(spark, batch)))
        val n = ctx.tracer.span("streaming")(stream(spark, st, batch))
        val delta = st.vectors.filter(col("vec_id").isin(batch.map(_.id): _*))
        append("ivf", Indexed.assignPath(d))(Indexed.appendAssignments(spark, d, delta))
        n
      } { n =>
        batch.foreach(x => mirror(x.id) = x)
        load(batch.map(_.id))
        if (n != batch.size) Seq(s"pipeline appended $n of ${batch.size} docs") else Nil
      }

    // a new doc's own vector finds that doc first, at distance 0
    def searchNew(doc: Long, strategy: String): Unit =
      ops.run("search") {
        val hit = ctx.tracer.span("search.call")(search(spark, st, strategy, vecs(doc), doc, vecs.size))
        hit -> ctx.tracer.span("hydrate")(hydrate(st.items, hit.ids))
      } { case (hit, rows) =>
        ops.digest(s"search:$strategy:$doc", hit.ids.mkString(","))
        (if (hit.ids.headOption.contains(doc) && hit.dists.head <= Check.Tol) Nil
        else Seq(s"$strategy search for new doc $doc returned ${hit.ids.take(2)} first")) ++
          Check.hydrated(rows, hit.ids, text)
      }

    def upsert(doc: Doc): Unit = {
      val changed = doc.copy(rating = doc.rating % 5 + 1)
      ops.run("upsert")(st.items.upsert(rowsOf(spark, Seq(changed)), "id")) { _ =>
        mirror(doc.id) = changed
        val back = st.items.findByIds("id", Seq(doc.id)).select("rating").collect().map(_.getInt(0))
        if (back.toSeq == Seq(changed.rating)) Nil
        else Seq(s"doc ${doc.id} reads back rating ${back.mkString(",")}, not ${changed.rating}")
      }
    }

    def find(i: Int): Unit = {
      val (sel, pred) = Selectors(i % Selectors.size)
      ops.run("find") {
        st.items.find(sel).select(col("id").cast("long")).collect().map(_.getLong(0)).toSeq
      } { got =>
        Check.sameIds(got, mirror.values.filter(pred).map(_.id).toSeq)
      }
    }

    val queries = ctx.rng.shuffle(base.map(_.id))
    def round(r: Int): Unit = {
      Strategies.foreach(serve(_, queries(r % queries.size)))
      ingest(batches(r))
      val fresh = batches(r)(ctx.rng.nextInt(Batch)).id
      searchNew(fresh, "exact"); searchNew(fresh, "ivf")
      upsert(mirror(ctx.rng.shuffle(mirror.keys.toVector).head))
      find(r)
    }

    // warm-up: one untimed call of each search strategy; the write paths
    // share their Spark machinery with the set-up's inserts and streams
    Strategies.foreach(serve(_, queries.last))
    Main.log("warm-up done")
    val roundS = mutable.ArrayBuffer.empty[Double]
    ops.timing = true
    ctx.tracer.span("timed") {
      val t0 = System.nanoTime()
      var r = 0
      while (r < batches.size && (roundS.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
        val r0 = ops.timedS
        round(r)
        roundS += ops.timedS - r0
        r += 1
        System.gc()
      }
    }
    ops.timing = false
    Main.log("timed region done")
    out.rounds = roundS.size
    out.e2e("round_s") = Stats.median(roundS.toSeq)
    out.liveHeap()
    Strategies.foreach { s =>
      out.layer(s"${s}_p50_ms") = ops.p50(s)
      out.layer(s"$s.recall_at_10") = Stats.mean(recall.getOrElse(s, Nil).toSeq)
    }
    out.layer("graph.hops_per_op") = Stats.mean(hops.toSeq)
    out.layer("graph.visited_per_op") = Stats.mean(visited.toSeq)
    val ingestLat = ops.latMs.getOrElse("ingest", Nil).toSeq
    out.layer("ingest_docs_per_s") = Batch * ingestLat.size / (ingestLat.sum / 1e3)
    Seq("search", "upsert", "find").foreach(k => out.layer(s"${k}_p50_ms") = ops.p50(k))
    out.layer("store.compactions") = compactions
    out.layer("store.compact_s") = compactS
    out.layer("store.rewritten_mb") = rewrittenMb
    out.layer("store.delta_files_max") = filesMax

    // at their exhaustive settings the approximate strategies are exact
    val q0 = queries.head
    for (s <- Seq("range", "similarity", "ivf")) {
      val hit = search(spark, st, s, vecs(q0), q0, vecs.size, exhaustive = true)
      Check.exact(hit.ids.zip(hit.dists), Brute.topK(vecs, vecs(q0), K))
        .foreach(p => ops.problems += s"$s exhaustive: $p")
    }
    // counts equal the docs streamed; the IVF table equals a one-shot
    // encode of every stored vector with the frozen centroids
    val n = mirror.size.toLong
    val itemsN = st.items.count()
    val destN = spark.read.parquet(st.dest).count()
    if (itemsN != n || destN != n || vecs.size != n)
      ops.problems += s"items $itemsN, vectors $destN, streamed $n"
    val cents = Indexed.ensureCentroids(spark, d).map(_.toArray)
    val assign = spark.read.parquet(Indexed.assignPath(d)).select(col("vec_id"), col("cluster"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    if (assign.length != n || assign.map(_._1).toSet != vecs.keySet)
      ops.problems += s"IVF table holds ${assign.length} rows for $n docs"
    val badAssign = assign.count { case (id, c) =>
      vecs.get(id).exists(v => c != Brute.argmin(cents.map(Brute.dist(v, _)))) }
    if (badAssign > 0) ops.problems += s"$badAssign IVF assignments differ from a one-shot encode"
  }
}
