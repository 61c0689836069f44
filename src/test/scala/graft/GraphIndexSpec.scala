package graft

import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The stored kNN-graph artifact lifecycle: build-once, delta append
  * (append ≡ one-shot rebuild), compaction idempotence, and serve-plan
  * purity (the g-family reads stored parquet — no SRP kernel, no
  * scoring pass in any serve plan).
  */
class GraphIndexSpec extends SparkSuite {

  /** Fixture: dataset dir whose embeddings are a vec_id-split subset
    * of sf0.001; returns (dir, heldOutVectors).
    */
  private def splitDataset(): (String, DataFrame) = {
    val d = tmpDir("gix")
    val full = graft.core.Tables.embeddings(spark, sf0001)
    full.filter(col("vec_id") % 10 =!= 0).write.parquet(s"$d/embeddings.parquet")
    (d, full.filter(col("vec_id") % 10 === 0).select("vec_id", "embedding"))
  }

  private def edgeSet(df: DataFrame): Set[(Long, Long, Long, Int)] =
    df.select(col("src"), col("dst"), col("w"), col("rk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet

  private def pairSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.select(col("id_a"), col("id_b"), col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("append ≡ one-shot rebuild for edges and pairs") {
    val (d, heldOut) = splitDataset()
    val base = graft.core.Tables.embeddings(spark, d)
    Graph.ensureKnnGraph(spark, d)
    // the delta lands through the bounded append path (re-rank
    // affected srcs only), then must equal a from-scratch build over
    // the union corpus
    Graph.appendKnnGraph(spark, d, heldOut, base)
    val full = graft.core.Tables.embeddings(spark, sf0001)
    val wantEdges = edgeSet(Graph.knnGraphEdgesOn(full))
    val gotEdges = edgeSet(Graph.storedEdges(spark, d))
    Dedup.releaseSlots()
    assert(gotEdges === wantEdges,
      s"stored edges after append must equal a one-shot rebuild " +
        s"(got ${gotEdges.size}, want ${wantEdges.size}; " +
        s"missing ${(wantEdges -- gotEdges).take(5)}, " +
        s"extra ${(gotEdges -- wantEdges).take(5)})")
    val wantPairs = pairSet(Graph.scoredPairsOn(full)
      .filter(col("w") >= Graph.CoreWmin))
    val gotPairs = pairSet(Graph.storedPairs(spark, d))
    Dedup.releaseSlots()
    assert(gotPairs === wantPairs, "stored pairs after append must equal rebuild")
    // compaction rewrites layout, never content
    Graph.compactKnnGraph(spark, d)
    assert(edgeSet(Graph.storedEdges(spark, d)) === wantEdges)
    assert(pairSet(Graph.storedPairs(spark, d)) === wantPairs)
  }

  /** Trickle-append 10-vector batches onto a graph of `kind` built over
    * the first 100 vectors until the live file count falls (the
    * append's auto-compaction fired); then the file count must be
    * within the kind's threshold and `content` must equal a one-shot
    * build over the same vectors. Shuffle partitions are not coalesced
    * meanwhile, so each append writes one file per shuffle partition
    * (as on a wider cluster) and the threshold is reached in a few
    * appends instead of dozens.
    */
  private def trickleCompacts(kind: Graph.GraphKind, ensure: String => String,
      append: (String, DataFrame, DataFrame) => String,
      content: String => Set[Seq[Any]]): Unit = {
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val full = graft.core.Tables.embeddings(spark, sf0001)
      val d = tmpDir("gtrickle")
      full.filter(col("vec_id") < 100).write.parquet(s"$d/embeddings.parquet")
      var corpus = graft.core.Tables.embeddings(spark, d)
      var prev = ensure(d)
      var compacted = false
      var hi = 100L
      var appends = 0
      while (!compacted && hi < 500L) {
        val batch = full.filter(col("vec_id") >= hi && col("vec_id") < hi + 10)
        val live = append(d, batch, corpus)
        corpus = corpus.unionByName(batch)
        val (before, after) = (graft.core.ArtifactStore.dataFileCount(prev),
          graft.core.ArtifactStore.dataFileCount(live))
        compacted = after < before
        prev = live
        hi += 10
        appends += 1
      }
      Dedup.releaseSlots()
      info(s"auto-compacted after $appends appends")
      assert(compacted, s"trickle ingest up to vec_id $hi never auto-compacted")
      assert(graft.core.ArtifactStore.dataFileCount(prev) <= kind.compactAt(spark, prev))
      val oneShot = tmpDir("gtrickle-full")
      full.filter(col("vec_id") < hi).write.parquet(s"$oneShot/embeddings.parquet")
      val want = content(ensure(oneShot))
      assert(content(prev) === want, "trickled and compacted graph must equal a one-shot build")
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("kNN graph: trickle appends auto-compact at the threshold; content ≡ one-shot build") {
    trickleCompacts(Graph.KnnKind, Graph.ensureKnnGraph(spark, _),
      (d, batch, corpus) => Graph.appendKnnGraph(spark, d, batch, corpus),
      v => rowSet(spark.read.parquet(s"$v/edges").select("src", "dst", "w", "rk")) ++
        rowSet(spark.read.parquet(s"$v/pairs").select("id_a", "id_b", "w")) ++
        rowSet(spark.read.parquet(s"$v/bsizes")))
  }

  test("stratum graph: trickle appends auto-compact at the threshold; content ≡ one-shot build") {
    trickleCompacts(Graph.StratumKind, Graph.ensureStratumGraph(spark, _),
      (d, batch, corpus) => Graph.appendStratumGraph(spark, d, batch, corpus),
      v => rowSet(spark.read.parquet(s"$v/edges")
          .select("src", "dst", "w", "rk", "stratum")) ++
        rowSet(spark.read.parquet(s"$v/bsizes").select("stratum", "tbl", "bkt", "n")))
  }

  test("serve plans read the stored artifact — no SRP kernel, no pair scoring") {
    val d = sf0001
    Graph.ensureKnnGraph(spark, d)
    // every g-query's executed plan must be free of the build
    // pipeline's signatures: the SRP bucketing kernel and the
    // quantized-dot scoring aggregate run at BUILD time only
    for (name <- Seq("q_g1_knn_graph", "q_g2_pagerank", "q_g3_triangles",
        "q_g4_kcore", "q_g5_communities", "q_g6_ppr", "q_g7_graph_ann",
        "q_g8_graph_ann_batch", "q_g9_graph_ann_filtered",
        "q_g10_gann_recall", "q_g11_gann_filtered_batch",
        "q_g12_gann_adaptive_batch", "q_g13_gann_stratified")) {
      val p = SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString()
      assert(!p.contains("srp_buckets"),
        s"$name must serve from the stored graph, not rebuild buckets:\n${p.take(2000)}")
      Dedup.releaseSlots()
    }
    // g7 still scores beam CANDIDATES against the query vector (that
    // is serving, not building) — but g1, the raw edge read, must be
    // a pure scan with no scoring aggregate at all
    val p1 = SparkEntry.queries("q_g1_knn_graph")(spark, d)
      .queryExecution.executedPlan.toString()
    assert(!p1.toLowerCase.contains("zip_with"),
      s"g1 must not re-score edges:\n${p1.take(2000)}")
  }

  test("g-serve: same rows with or without a profile, and every phase has a span") {
    val d = sf0001
    Graph.ensureKnnGraph(spark, d)
    def rows() = SparkEntry.queries("q_g8_graph_ann_batch")(spark, d)
      .collect().map(_.toString).toSeq
    val plain = rows()
    val (profiled, p) = graft.core.QueryProfile.run(spark)(rows())
    assert(profiled === plain, "the profile changed the served rows")
    for (k <- Seq("seed", "seed_score", "hop1", "final"))
      assert(p.spans.get(k).exists(_.calls == 1), s"phase $k: ${p.spans.keys.toSeq.sorted}")
    // every job the walk ran belongs to one of its phases
    val phases = p.spans.keySet
    assert(p.jobs.nonEmpty && p.jobs.forall(j => phases(j.span)),
      s"jobs outside the walk's phases: ${p.jobs.filterNot(j => phases(j.span))}")
    Dedup.releaseSlots()
  }

  test("adaptive exit (g12) stops no later than the full fixpoint (g8) and keeps the top-K when the exit rounds coincide") {
    val d = sf0001
    Graph.ensureKnnGraph(spark, d)
    def byQ(name: String): Map[Long, (Long, Seq[Long])] =
      SparkEntry.queries(name)(spark, d)
        .select("qid", "hops_n", "rk", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues { rs =>
          (rs.head.getLong(1),
            rs.sortBy(_.getLong(2)).map(_.getLong(3)).toSeq)
        }.toMap
    val fullRes = byQ("q_g8_graph_ann_batch")
    val adpt = byQ("q_g12_gann_adaptive_batch")
    Dedup.releaseSlots()
    assert(adpt.keySet === fullRes.keySet)
    for (q <- adpt.keySet) {
      // top-K-prefix stability is implied by full-beam stability, so
      // the adaptive walk can never run LONGER than the fixpoint walk
      assert(adpt(q)._1 <= fullRes(q)._1,
        s"query $q: adaptive exit round ${adpt(q)._1} must be <= " +
          s"full-fixpoint round ${fullRes(q)._1}")
      // when the adaptive walk ran the full distance its visited set
      // is the fixpoint walk's, so the served top-K must be identical
      if (adpt(q)._1 == fullRes(q)._1)
        assert(adpt(q)._2 === fullRes(q)._2,
          s"query $q: same exit round must serve the same top-K")
    }
  }

  test("stratum graph slice ≡ one-shot kNN-graph build on the filtered corpus") {
    val d = sf0001
    val full = graft.core.Tables.embeddings(spark, d)
    Graph.ensureStratumGraph(spark, d)
    // the stratified artifact's claim: each stratum's slice IS the
    // graph ensureKnnGraph would build over the filtered corpus —
    // same kernel, same per-(stratum-)bucket occupancy cap, same
    // top-G; only the join key gains the stratum conjunct
    val want = edgeSet(Graph.knnGraphEdgesOn(
      full.filter(col(Graph.StratumCol) === Graph.StratumServeLabel)))
    val got = edgeSet(
      Graph.stratumEdgesOf(spark, d, Graph.StratumServeLabel.toLong))
    Dedup.releaseSlots()
    assert(got === want,
      s"stratum slice must equal the filtered-corpus build " +
        s"(got ${got.size}, want ${want.size}; " +
        s"missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)})")
  }

  test("stratum append ≡ filtered-corpus build per stratum; foreign strata carry forward as hard links") {
    val d = tmpDir("strat")
    val full = graft.core.Tables.embeddings(spark, sf0001)
    full.filter(col("vec_id") % 10 =!= 0).write.parquet(s"$d/embeddings.parquet")
    val base = graft.core.Tables.embeddings(spark, d)
    val heldOut = full.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"), col(Graph.StratumCol))
    val v0 = Graph.ensureStratumGraph(spark, d)
    // append ONLY the served stratum's part of the held-out tenth: a
    // delta labeled entirely stratum 3 must rewrite zero bytes of any
    // other stratum — its directories arrive as hard links of v0's
    val h3 = heldOut.filter(col(Graph.StratumCol) === Graph.StratumServeLabel)
    val v1 = Graph.appendStratumGraph(spark, d, h3, base)
    assert(v1 !== v0)
    def files(root: String): Map[String, java.nio.file.Path] = {
      val r = java.nio.file.Paths.get(root)
      val st = java.nio.file.Files.walk(r)
      try st.filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => r.relativize(p).toString -> p).toMap
      finally st.close()
    }
    val otherStratum = 7L
    val before = files(s"$v0/edges/stratum=$otherStratum")
    val after = files(s"$v1/edges/stratum=$otherStratum")
    assert(after.keySet === before.keySet,
      "an untouched stratum's edge files must carry forward unchanged")
    for ((n, p) <- after)
      assert(java.nio.file.Files.isSameFile(p, before(n)),
        s"untouched stratum file $n must be a hard link of the previous version's")
    // append the remaining strata, then every slice must equal the
    // one-shot kNN-graph build over the label-filtered union corpus
    // (the ensureStratumGraph slice claim, held ACROSS appends)
    val hRest = heldOut.filter(col(Graph.StratumCol) =!= Graph.StratumServeLabel)
    Graph.appendStratumGraph(spark, d, hRest,
      base.select("vec_id", "embedding")
        .unionByName(h3.select("vec_id", "embedding")))
    for (l <- Seq(Graph.StratumServeLabel.toLong, otherStratum)) {
      val want = edgeSet(Graph.knnGraphEdgesOn(
        full.filter(col(Graph.StratumCol) === l)))
      val got = edgeSet(Graph.stratumEdgesOf(spark, d, l))
      Dedup.releaseSlots()
      assert(got === want,
        s"stratum $l slice after appends must equal the filtered-corpus " +
          s"build (missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)})")
    }
    // bsizes stays the exact occupancy census of the routing table
    val wantSizes = spark.read.parquet(
        s"${Graph.ensureStratumGraph(spark, d)}/buckets")
      .groupBy(col("stratum").cast("long").as("st"), col("tbl"), col("bkt"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val gotSizes = spark.read.parquet(
        s"${Graph.ensureStratumGraph(spark, d)}/bsizes")
      .select(col("stratum").cast("long"), col("tbl"), col("bkt"), col("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotSizes === wantSizes,
      "bsizes must equal a recount of the appended routing table")
  }

  test("stratum append counts cap crossings per (stratum,tbl,bkt) and self-heals with a stratified rebuild past the budget") {
    import spark.implicits._
    val d = tmpDir("stratheal")
    val full = graft.core.Tables.embeddings(spark, sf0001)
    val first = full.orderBy("vec_id").limit(1)
    val emb0 = first.select("embedding", Graph.StratumCol)
    // base: fifty real rows + one copy of the first row's embedding IN
    // ITS OWN STRATUM — the copied signature's per-stratum buckets
    // start at occupancy ≥ 2, so the build generated their old×old
    // pairs
    full.orderBy("vec_id").limit(50).unionByName(
        spark.range(1).select(lit(1000000L).as("vec_id")).crossJoin(emb0))
      .write.parquet(s"$d/embeddings.parquet")
    val base = graft.core.Tables.embeddings(spark, d)
    val v0 = Graph.ensureStratumGraph(spark, d)
    assert(Graph.graphGen(v0) === 0L)
    assert(Graph.graphCrossedBuckets(v0) === 0L)
    // MaxBucket-1 same-stratum copies push every one of the
    // signature's SrpTables (stratum,tbl,bkt) keys across the cap;
    // trigger disabled so the COUNTER itself is observable
    val dups = spark.range((Dedup.MaxBucket - 1).toLong)
      .select((col("id") + 2000000L).as("vec_id")).crossJoin(emb0)
    Graph.appendStratumGraph(spark, d, dups, base,
      rebuildCrossedFrac = 1.0)
    val live1 = Graph.ensureStratumGraph(spark, d)
    assert(Graph.graphCrossedBuckets(live1) === Dedup.SrpTables.toLong,
      "every SRP table's per-stratum bucket of the duplicated signature must count as crossed")
    assert(Graph.graphGen(live1) === 1L, "the append must bump the generation")
    // a second, non-crossing append under the default budget: the
    // cumulative counter exceeds it and the stratified self-heal
    // rebuild fires — old strata recovered from the artifact's own
    // routing table, counter reset, per-stratum exactness restored
    val extra = full.orderBy(col("vec_id").desc).limit(1)
      .select("vec_id", "embedding", Graph.StratumCol)
    val out = Graph.appendStratumGraph(spark, d, extra,
      base.select("vec_id", "embedding")
        .unionByName(dups.select("vec_id", "embedding")))
    assert(Graph.graphGen(out) === 3L,
      "append (gen 2) then triggered rebuild (gen 3)")
    assert(Graph.graphCrossedBuckets(out) === 0L,
      "a full rebuild resets the staleness counter")
    val unionCorpus = base.unionByName(dups.select(base.columns.map(col): _*))
      .unionByName(extra.select(base.columns.map(col): _*))
    val st = first.select(col(Graph.StratumCol).cast("long")).collect().head.getLong(0)
    val want = edgeSet(Graph.knnGraphEdgesOn(
      unionCorpus.filter(col(Graph.StratumCol).cast("long") === st)
        .select("vec_id", "embedding")))
    val got = edgeSet(Graph.stratumEdgesOf(spark, d, st))
    Dedup.releaseSlots()
    assert(got === want,
      "the triggered rebuild must restore append ≡ rebuild exactness for the crossed stratum " +
        s"(missing ${(want -- got).take(5)}, extra ${(got -- want).take(5)})")
  }

  test("stratum compaction preserves content per stratum and carries the gen/crossed/build meta") {
    val d = tmpDir("stratcmp")
    val full = graft.core.Tables.embeddings(spark, sf0001)
    full.filter(col("vec_id") % 10 =!= 0).write.parquet(s"$d/embeddings.parquet")
    val base = graft.core.Tables.embeddings(spark, d)
    val heldOut = full.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"), col("embedding"), col(Graph.StratumCol))
    Graph.ensureStratumGraph(spark, d)
    val v1 = Graph.appendStratumGraph(spark, d, heldOut, base)
    def edgesOf(v: String) = spark.read.parquet(s"$v/edges")
      .select(col("src"), col("dst"), col("w"), col("rk").cast("int"),
        col("stratum").cast("long"), col("bucket").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4), r.getInt(5))).toSet
    def routingOf(v: String) = spark.read.parquet(s"$v/buckets")
      .select(col("vec_id"), col("tbl"), col("bkt"),
        col("stratum").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val (e1, r1) = (edgesOf(v1), routingOf(v1))
    val (g1, c1) = (Graph.graphGen(v1), Graph.graphCrossedBuckets(v1))
    val v2 = Graph.compactStratumGraph(spark, d)
    assert(v2 !== v1)
    assert(edgesOf(v2) === e1, "compaction must preserve edge content")
    assert(routingOf(v2) === r1, "compaction must preserve routing content")
    assert((Graph.graphGen(v2), Graph.graphCrossedBuckets(v2)) === ((g1, c1)),
      "compaction serves identical content: generation and staleness counter carry")
    Dedup.releaseSlots()
  }

  test("filtered-ANN auto selector picks the measured band and serves that mode's exact result") {
    val d = sf0001
    val e = graft.core.Tables.embeddings(spark, d)
    val isQ = col("vec_id") < Graph.GannBatchQ
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // scan-sized slice (5 rows) → exact: recall 1.0 by construction,
    // visited_n attests the slice, hops_n 0
    val predE = col(Graph.StratumCol) === Graph.StratumServeLabel &&
      pmod(col("vec_id"), lit(10)) === 0
    val (m1, r1) = Graph.filteredAnnAutoBatch(spark, d, isQ, predE,
      Some(Graph.StratumServeLabel.toLong))
    assert(m1 === "exact")
    val elig = e.filter(predE).count()
    val wantExact = rows(e.filter(predE).select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(e.filter(isQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))))
      .select(col("qid"), col("vec_id"),
        Graph.intDot(col("embedding"), col("qv")).as("sc"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(col("sc").desc, col("vec_id").asc)))
      .filter(col("rk") <= Graph.GannTopK)
      .select(col("qid"), col("vec_id"), col("sc"),
        col("rk").cast("long"), lit(elig), lit(0L)))
    assert(rows(r1) === wantExact, "exact band must serve filtered brute force")
    // the other bands need a cutoff below this corpus's slice sizes:
    // at 500 rows every sub-10% slice is also ≤ 64 rows, so inject 8
    try {
      spark.conf.set("graft.ann.autoExactMaxRows", "8")
      // 43 rows = 8.6% < 10%, stratum conjunct present → stratum walk
      val predS = col(Graph.StratumCol) === Graph.StratumServeLabel
      val (m2, r2) = Graph.filteredAnnAutoBatch(spark, d, isQ, predS,
        Some(Graph.StratumServeLabel.toLong))
      assert(m2 === "stratum")
      val directS = Graph.graphAnnBatchOn(e,
        Graph.stratumEdgesOf(spark, d, Graph.StratumServeLabel.toLong),
        Graph.stratumRoutingOf(spark, d, Graph.StratumServeLabel.toLong),
        isQ, allowed = Some(predS))
      assert(rows(r2) === rows(directS),
        "stratum band must serve the stratum walk's result")
      // 93 rows = 18.6% ≥ 10% → post-filter walk on the full graph,
      // serving the g12 ADAPTIVE exit by default (the selector's
      // measured post-filter default since r16)
      val predP = col(Graph.StratumCol).isin(3, 7)
      val (m3, r3) = Graph.filteredAnnAutoBatch(spark, d, isQ, predP,
        Some(Graph.StratumServeLabel.toLong))
      assert(m3 === "postfilter_adaptive")
      val directP = Graph.graphAnnBatchOn(e,
        Graph.storedEdgesPartitioned(spark, d), Graph.storedBuckets(spark, d),
        isQ, allowed = Some(predP),
        stableK = Some(Graph.GannTopK))
      assert(rows(r3) === rows(directP),
        "post-filter band must serve the adaptive full-graph walk's result")
      // adaptive = false pins the full-fixpoint walk back
      val (m3f, r3f) = Graph.filteredAnnAutoBatch(spark, d, isQ, predP,
        Some(Graph.StratumServeLabel.toLong), adaptive = false)
      assert(m3f === "postfilter")
      val directFix = Graph.graphAnnBatchOn(e,
        Graph.storedEdgesPartitioned(spark, d), Graph.storedBuckets(spark, d),
        isQ, allowed = Some(predP))
      assert(rows(r3f) === rows(directFix),
        "adaptive = false must serve the fixpoint walk's result")
      // ~9% with NO stratum conjunct: the measured fallback is still
      // the post-filter walk (wider beams plateau; no better operator)
      val predF = pmod(col("vec_id"), lit(11)) === 0
      val (m4, _) = Graph.filteredAnnAutoBatch(spark, d, isQ, predF, None)
      assert(m4 === "postfilter_adaptive",
        "the stratum-less middle band must fall back to post-filter")
      // an INCONSISTENT stratum hint (eligible rows OUTSIDE the
      // stratum — walking its graph could never reach them) must fall
      // back to post-filter instead of attesting 'stratum' at
      // collapsed recall: ~4% selectivity, half of it in label 5
      val predI = (col(Graph.StratumCol) === Graph.StratumServeLabel ||
        col(Graph.StratumCol) === 5) && pmod(col("vec_id"), lit(4)) === 0
      val (m5, _) = Graph.filteredAnnAutoBatch(spark, d, isQ, predI,
        Some(Graph.StratumServeLabel.toLong))
      assert(m5 === "postfilter_adaptive",
        "a predicate not implied by the stratum must not walk the stratum graph")
    } finally spark.conf.unset("graft.ann.autoExactMaxRows")
    Dedup.releaseSlots()
  }

  test("auto selector serves mode selection from the per-corpus-version census snapshot, not a rescan") {
    val d = sf0001
    val isQ = col("vec_id") < Graph.GannBatchQ
    val pred = col(Graph.StratumCol) === Graph.StratumServeLabel
    val key = (d, pred.toString, Graph.StratumServeLabel.toString,
      Graph.corpusStamp(d))
    try {
      spark.conf.set("graft.ann.autoExactMaxRows", "8")
      Graph.eligCensusMemo.remove(key)
      val (m1, _) = Graph.filteredAnnAutoBatch(spark, d, isQ, pred,
        Some(Graph.StratumServeLabel.toLong))
      assert(m1 === "stratum")
      assert(Graph.eligCensusMemo.containsKey(key),
        "the cold call must snapshot the census under the corpus-version key")
      // poison the snapshot: if repeat serves really read it (and
      // never rescan), the mode must follow the poisoned numbers
      Graph.eligCensusMemo.put(key, (500L, 5L, 5L))
      val (m2, _) = Graph.filteredAnnAutoBatch(spark, d, isQ, pred,
        Some(Graph.StratumServeLabel.toLong))
      assert(m2 === "exact",
        "a repeat serve must decide from the stored census, not a corpus scan")
      // dropping the snapshot restores the honest mode (cold path again)
      Graph.eligCensusMemo.remove(key)
      val (m3, _) = Graph.filteredAnnAutoBatch(spark, d, isQ, pred,
        Some(Graph.StratumServeLabel.toLong))
      assert(m3 === "stratum")
    } finally {
      Graph.eligCensusMemo.remove(key)
      spark.conf.unset("graft.ann.autoExactMaxRows")
    }
    Dedup.releaseSlots()
  }

  test("corpus stamp: TTL caches within the window, invalidateCorpusStamp bypasses it") {
    val d = tmpDir("gst")
    val fifty = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").orderBy("vec_id").limit(50)
    fifty.write.parquet(s"$d/embeddings.parquet")
    val st0 = Graph.corpusStamp(d)
    // mutate a part file's mtime the way an external rewrite would
    val part = Option(new java.io.File(s"$d/embeddings.parquet").listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).head
    part.setLastModified(part.lastModified() + 60000)
    assert(Graph.corpusStamp(d) === st0,
      "inside the TTL the cached stamp hides the rewrite (documented trade)")
    Graph.invalidateCorpusStamp(d)
    assert(Graph.corpusStamp(d) !== st0,
      "explicit invalidation must surface the rewrite immediately")
  }

  test("graph_stats is version-stamped: an append invalidates and the rebuilt tables match live computation") {
    val (d, heldOut) = splitDataset()
    val base = graft.core.Tables.embeddings(spark, d)
    val stats0 = Graph.ensureGraphStats(spark, d)
    // fresh call with an unchanged graph: same version dir, no rebuild
    assert(Graph.ensureGraphStats(spark, d) === stats0)
    Graph.appendKnnGraph(spark, d, heldOut, base)
    val stats1 = Graph.ensureGraphStats(spark, d)
    assert(stats1 !== stats0,
      "an appended graph must invalidate the stats version")
    // the rebuilt pagerank table equals a live computation over the
    // full corpus (append ≡ rebuild already proven for the edges)
    val full = graft.core.Tables.embeddings(spark, sf0001)
    val want = Graph.pageRankOn(full.select("vec_id"),
        Graph.knnGraphEdgesOn(full))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.releaseSlots()
    val got = spark.read.parquet(s"$stats1/pagerank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, "stored pagerank must equal live computation")
    // all five served tables equal a stats build over a one-shot graph
    // of the same vectors
    val oneShot = tmpDir("gix1")
    full.write.parquet(s"$oneShot/embeddings.parquet")
    val statsOne = Graph.ensureGraphStats(spark, oneShot)
    Dedup.releaseSlots()
    val served = Seq("pagerank", "ppr", "triangles", "kcore", "communities")
    for (t <- served) {
      def rows(v: String) = spark.read.parquet(s"$v/$t").collect().toSet
      assert(rows(stats1) === rows(statsOne),
        s"$t after an append must equal the one-shot graph's $t")
    }
    // a stats version holds the served tables and its two stamps only,
    // and a graph version holds its four tables only (no delta logs)
    def entries(v: String) = Option(new java.io.File(v).list())
      .getOrElse(Array.empty[String]).filterNot(_.startsWith(".")).toSet
    assert(entries(stats1) === (served ++ Seq("GRAPH_GEN", "GRAPH_BUILD")).toSet)
    assert(entries(Graph.ensureKnnGraph(spark, d)) ===
      Set("edges", "pairs", "buckets", "bsizes"))
  }

  test("graph_stats never serves another build's tables: a rebuilt graph appended back to the stamped generation gets new stats") {
    // stats stamped at gen 1 under build A; the graph artifact is
    // destroyed and rebuilt (gen 0, build B), and one append brings it
    // back to gen 1 — the stamped generation matches, the graph does not
    val (d, heldOut) = splitDataset()
    val base = graft.core.Tables.embeddings(spark, d)
    Graph.appendKnnGraph(spark, d, heldOut.filter(col("vec_id") % 20 === 0), base)
    val statsA = Graph.ensureGraphStats(spark, d)
    val buildA = Graph.graphBuildId(Graph.ensureKnnGraph(spark, d))
    assert(buildA.nonEmpty, "every full build must stamp a lineage nonce")
    val adir = graft.core.ArtifactStore.artifactDir("knn_graph", d, Graph.GraphTag)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(adir))
    Dedup.releaseSlots()
    val buildB = Graph.graphBuildId(Graph.ensureKnnGraph(spark, d))
    assert(buildB !== buildA, "a rebuild must start a fresh lineage")
    Graph.appendKnnGraph(spark, d, heldOut.filter(col("vec_id") % 20 =!= 0), base)
    val gdir = Graph.ensureKnnGraph(spark, d)
    assert(Graph.graphGen(gdir) === 1L)
    val statsB = Graph.ensureGraphStats(spark, d)
    Dedup.releaseSlots()
    assert(statsB !== statsA, "build A's stats must not serve build B's graph")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(statsB, "GRAPH_BUILD")).trim === buildB)
    val nNodes = spark.read.parquet(s"$gdir/buckets").select("vec_id").distinct().count()
    assert(spark.read.parquet(s"$statsB/triangles").head().getLong(0) === nNodes,
      "the served census must count the live graph's nodes")
  }

  test("compaction carries the content generation — stats serve without a rebuild") {
    val d = sf0001
    Graph.ensureKnnGraph(spark, d)
    val stats0 = Graph.ensureGraphStats(spark, d)
    val genBefore = Graph.graphGen(Graph.ensureKnnGraph(spark, d))
    Graph.compactKnnGraph(spark, d)
    assert(Graph.graphGen(Graph.ensureKnnGraph(spark, d)) === genBefore,
      "compaction serves identical content: the generation must not move")
    assert(Graph.ensureGraphStats(spark, d) === stats0,
      "a layout-only rewrite must not thrash the five-table stats rebuild")
  }

  test("cap-crossing staleness is counted in the version meta and heals via the triggered rebuild") {
    // tiny corpus with one DUPLICATED embedding, so the duplicate's 12
    // SRP buckets hold ≥2 members (the build generated their old×old
    // pairs) — the precondition for a crossing to create staleness
    val d = tmpDir("gxc")
    val fifty = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").orderBy("vec_id").limit(50)
    val emb0 = fifty.limit(1).select(col("embedding"))
    fifty.unionByName(
        spark.range(1).select(lit(1000000L).as("vec_id")).crossJoin(emb0))
      .write.parquet(s"$d/embeddings.parquet")
    val base = graft.core.Tables.embeddings(spark, d)
    Graph.ensureKnnGraph(spark, d)
    // delta of MaxBucket-1 copies of the duplicated embedding pushes
    // every one of its SrpTables buckets across the cap (old ≥ 2,
    // old+new > MaxBucket). Trigger disabled (frac 1.0) so the COUNTER
    // itself is observable on the appended version.
    val dups = spark.range((Dedup.MaxBucket - 1).toLong)
      .select((col("id") + 2000000L).as("vec_id")).crossJoin(emb0)
    Graph.appendKnnGraph(spark, d, dups, base, rebuildCrossedFrac = 1.0)
    val live1 = Graph.ensureKnnGraph(spark, d)
    assert(Graph.graphCrossedBuckets(live1) === Dedup.SrpTables.toLong,
      "every SRP table's bucket of the duplicated signature must count as crossed")
    assert(Graph.graphGen(live1) === 1L, "the append must bump the generation")
    // a second, non-crossing append: the CUMULATIVE counter now exceeds
    // the default budget (12 crossings > 1% of populated buckets) and
    // the self-healing rebuild fires — generation bumped past the
    // append's, counter reset, exactness restored
    val extra = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
      .orderBy(col("vec_id").desc).limit(1)
    val out = Graph.appendKnnGraph(spark, d, extra, base.unionByName(dups))
    assert(Graph.graphGen(out) === 3L,
      "append (gen 2) then triggered rebuild (gen 3)")
    assert(Graph.graphCrossedBuckets(out) === 0L,
      "a full rebuild resets the staleness counter")
    val union = base.unionByName(dups).unionByName(extra)
    val wantEdges = edgeSet(Graph.knnGraphEdgesOn(union))
    val gotEdges = edgeSet(Graph.storedEdges(spark, d))
    Dedup.releaseSlots()
    assert(gotEdges === wantEdges,
      "the triggered rebuild must restore append ≡ rebuild exactness")
    val wantPairs = pairSet(Graph.scoredPairsOn(union)
      .filter(col("w") >= Graph.CoreWmin))
    val gotPairs = pairSet(Graph.storedPairs(spark, d))
    Dedup.releaseSlots()
    assert(gotPairs === wantPairs,
      "rebuilt pairs must equal a one-shot build (stale old×old pairs dropped)")
  }

  test("self-heal coverage: an artifact id missing from the caller's frames is recovered from the edge table's dvec") {
    val (d, _) = splitDataset()
    Graph.ensureKnnGraph(spark, d)
    val fresh = graft.core.ArtifactStore.current(
      graft.core.ArtifactStore.artifactDir("knn_graph", d, Graph.GraphTag)).get
    // any edge destination is recoverable by construction (its dvec is
    // denormalized onto every in-edge)
    val victim = spark.read.parquet(s"$fresh/edges")
      .select(col("dst")).orderBy("dst").limit(1).collect().head.getLong(0)
    val caller = graft.core.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").filter(col("vec_id") =!= victim)
    val rec = Graph.recoveredMissingVecs(spark, fresh, caller)
    assert(rec.isDefined, "a dvec-covered id must be recoverable")
    val rows = rec.get.collect()
    assert(rows.map(_.getLong(0)).toSet === Set(victim),
      "exactly the held-back id is recovered")
    val want = graft.core.Tables.embeddings(spark, d)
      .filter(col("vec_id") === victim).select("embedding")
      .collect().head.getSeq[Float](0)
    assert(rows.head.getSeq[Float](1) === want,
      "the recovered embedding is the id's exact stored vector")
  }

  test("self-heal coverage: an uncoverable id (in the routing table, no in-edges, not in the caller's frames) yields None") {
    val (d, _) = splitDataset()
    Graph.ensureKnnGraph(spark, d)
    val fresh = graft.core.ArtifactStore.current(
      graft.core.ArtifactStore.artifactDir("knn_graph", d, Graph.GraphTag)).get
    // fake version dir: the real tables plus one PHANTOM routing row —
    // the shape a cross-process append of an in-edge-less isolate
    // leaves behind
    val fake = tmpDir("gxu")
    val phantom = spark.read.parquet(s"$fresh/buckets").limit(1)
      .withColumn("vec_id", lit(999999999L))
    spark.read.parquet(s"$fresh/buckets").unionByName(phantom)
      .write.parquet(s"$fake/buckets")
    spark.read.parquet(s"$fresh/edges").write.parquet(s"$fake/edges")
    val caller = graft.core.Tables.embeddings(spark, d)
      .select("vec_id", "embedding")
    assert(Graph.recoveredMissingVecs(spark, fake, caller).isEmpty,
      "publishing would drop the phantom's vectors — the caller must decline")
  }

  test("triggered rebuild declines with a witness when a cross-process id cannot be covered — counter intact, content served") {
    // the cap-crossing fixture (duplicated embedding), plus a phantom
    // routing row injected into the live version the way a concurrent
    // process's append of an isolate would leave it
    val d = tmpDir("gxd")
    val fifty = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").orderBy("vec_id").limit(50)
    val emb0 = fifty.limit(1).select(col("embedding"))
    fifty.unionByName(
        spark.range(1).select(lit(1000000L).as("vec_id")).crossJoin(emb0))
      .write.parquet(s"$d/embeddings.parquet")
    val base = graft.core.Tables.embeddings(spark, d)
    Graph.ensureKnnGraph(spark, d)
    val dups = spark.range((Dedup.MaxBucket - 1).toLong)
      .select((col("id") + 2000000L).as("vec_id")).crossJoin(emb0)
    Graph.appendKnnGraph(spark, d, dups, base, rebuildCrossedFrac = 1.0)
    val live1 = Graph.ensureKnnGraph(spark, d)
    val phantom = spark.read.parquet(s"$live1/buckets").limit(1)
      .withColumn("vec_id", lit(999999999L))
    phantom.write.mode("append").parquet(s"$live1/buckets")
    // the next append carries the phantom forward (hard links) and
    // trips the rebuild budget; the caller's frames cannot cover the
    // phantom and it has no in-edges → witnessed decline
    val extra = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
      .orderBy(col("vec_id").desc).limit(1)
    val out = Graph.appendKnnGraph(spark, d, extra, base.unionByName(dups))
    Dedup.releaseSlots()
    assert(Graph.graphRebuildDecline(out) === "uncovered_ids",
      "the decline must be witnessed on the current version")
    assert(Graph.graphGen(out) === 2L,
      "append (gen 2) served; no rebuild generation published")
    assert(Graph.graphCrossedBuckets(out) === Dedup.SrpTables.toLong,
      "the staleness counter is left intact so a later append re-triggers the heal")
  }

  test("triggered rebuild recovers a held-back id from dvec: rebuild ≡ one-shot over the full union") {
    val d = tmpDir("gxr")
    val fifty = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").orderBy("vec_id").limit(50)
    val emb0 = fifty.limit(1).select(col("embedding"))
    fifty.unionByName(
        spark.range(1).select(lit(1000000L).as("vec_id")).crossJoin(emb0))
      .write.parquet(s"$d/embeddings.parquet")
    val base = graft.core.Tables.embeddings(spark, d)
    Graph.ensureKnnGraph(spark, d)
    val dups = spark.range((Dedup.MaxBucket - 1).toLong)
      .select((col("id") + 2000000L).as("vec_id")).crossJoin(emb0)
    Graph.appendKnnGraph(spark, d, dups, base, rebuildCrossedFrac = 1.0)
    // hold back an id the artifact holds and serves edges TO — the
    // caller's corpus frame is a stale snapshot that never saw it
    val live1 = Graph.ensureKnnGraph(spark, d)
    val victim = spark.read.parquet(s"$live1/edges")
      .select(col("dst")).orderBy("dst").limit(1).collect().head.getLong(0)
    val extra = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
      .orderBy(col("vec_id").desc).limit(1)
    val staleCorpus = base.unionByName(dups).filter(col("vec_id") =!= victim)
    val out = Graph.appendKnnGraph(spark, d, extra, staleCorpus)
    assert(Graph.graphRebuildDecline(out) === "",
      "a dvec-covered id must not decline the rebuild")
    assert(Graph.graphGen(out) === 3L,
      "append (gen 2) then triggered rebuild (gen 3)")
    val union = base.unionByName(dups).unionByName(extra)
    val wantEdges = edgeSet(Graph.knnGraphEdgesOn(union))
    val gotEdges = edgeSet(Graph.storedEdges(spark, d))
    Dedup.releaseSlots()
    assert(gotEdges === wantEdges,
      "the recovered vector restores rebuild ≡ one-shot over the full union")
  }

  test("full triangle census: driver greater-neighbor intersection ≡ distributed 3-way wedge join, table for table") {
    // identical corpus in two dataset dirs → two independent stats
    // builds, one per serve path; triangles/ must be row-identical,
    // and neither path leaves its working degree table in the version
    val fifty = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").orderBy("vec_id").limit(120)
    def build(budget: String): (Seq[Long], Map[String, String]) = {
      val d = tmpDir("gtc")
      fifty.write.parquet(s"$d/embeddings.parquet")
      spark.conf.set("graft.graph.driverEdgeBudget", budget)
      try {
        val (v, notes) = withNotes(Graph.ensureGraphStats(spark, d))
        Dedup.releaseSlots()
        assert(!new java.io.File(s"$v/deg").exists(), s"budget $budget left deg/")
        val tri = spark.read.parquet(s"$v/triangles").head()
        ((0 until 5).map(tri.getLong), notes)
      } finally spark.conf.unset("graft.graph.driverEdgeBudget")
    }
    val (triD, notesD) = build("1000000")
    assert(notesD.get("census_mode") === Some("driver"))
    val (triX, notesX) = build("-1")
    assert(notesX.get("census_mode") === Some("distributed"))
    assert(triD === triX, "triangle census rows diverge across serve paths")
    assert(triD(3) > 0L, "fixture must actually contain triangles")
  }

  test("graph_stats participates in version GC and vacuum: stale versions reclaimed, lock skip observable") {
    import java.nio.file.{Files, Paths}
    // tiny corpus so the five-table stats rebuild is cheap per version
    val d = tmpDir("gstgc")
    val forty = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").orderBy("vec_id").limit(40)
    forty.write.parquet(s"$d/embeddings.parquet")
    val extras = graft.core.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").orderBy(col("vec_id").desc).limit(3)
      .collect()
    var versions = List(Graph.ensureGraphStats(spark, d))
    var corpus = graft.core.Tables.embeddings(spark, d)
    import spark.implicits._
    for (r <- extras) {
      val one = Seq((r.getLong(0), r.getSeq[Float](1).toArray))
        .toDF("vec_id", "embedding")
      Graph.appendKnnGraph(spark, d, one, corpus)
      corpus = corpus.unionByName(one)
      versions :+= Graph.ensureGraphStats(spark, d)
    }
    Dedup.releaseSlots()
    assert(versions.distinct.size === 4, "each generation gets its own stats version")
    // ensureGraphStats runs gcVersions after each publish (keep = 2):
    // with four versions the oldest must be reclaimed, current intact
    assert(!Files.isDirectory(Paths.get(versions.head)),
      s"stale stats version ${versions.head} must be GC'd")
    assert(Files.isDirectory(Paths.get(versions.last)))
    // vacuum-skip observability: with the stats artifact's maintenance
    // lock held, a dataset sweep reports the artifact as SKIPPED
    // (couldn't look) instead of throwing or silently omitting it
    val adir = Paths.get(versions.last).getParent.toString
    val rep = graft.core.ArtifactStore.withMaintenanceLock(adir) {
      graft.core.ArtifactStore.vacuumAll(d)
    }
    assert(rep.skipped.contains(Paths.get(adir).getFileName.toString),
      s"locked stats artifact must be reported skipped: $rep")
    // and an unlocked sweep covers it without error (nothing eligible
    // beyond retention — reclaimed entry present, possibly empty)
    val rep2 = graft.core.ArtifactStore.vacuumAll(d)
    assert(rep2.reclaimed.contains(Paths.get(adir).getFileName.toString))
  }

  test("k-core peel costs one job per round (lazy checkpoint, count materializes)") {
    import spark.implicits._
    // path graph a-b-c-d with k=2 peels in 3 counted rounds:
    // {ab,bc,cd} → {bc} → {} → {} (fixpoint detected)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    // AQE materializes every exchange as its own job, decoupling job
    // count from action count — switch it off so one action == one job
    // and the budget assertion measures the LOOP's actions
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (core, p) = graft.core.QueryProfile.run(spark)(Graph.kcoreOn(edges))
      // count LOOP actions (checkpoint/count call sites) — broadcast
      // exchanges run as separate thread-pool jobs in any variant of
      // the loop and would drown the signal
      val loopJobs = p.jobs.count(_.callSites.exists(cs =>
        cs.contains("Graph.scala") || cs.contains("Corpus.scala")))
      // loop-action budget: eager base truncation + its count + the
      // one-time symmetric-adjacency materialization (r16: the
      // degree-decrement peel never rebuilds the edge set, so the
      // adjacency checkpoints once up front) + ONE materializing
      // removal count per round (3 rounds here) = 6. The pre-r16
      // edge-restriction loop paid ~4 edge-set shuffles per round
      // inside its one action; this one joins the cached adjacency
      // against the (usually tiny) removal set.
      assert(loopJobs <= 6,
        s"k-core loop ran $loopJobs loop-action jobs for a 3-round " +
          "peel — expected one job per round plus the base materializations")
      assert(core.collect().isEmpty, "a path graph has no 2-core")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("g8 batch walk: one job per executed hop round, none for the final selection, the session's AQE setting never written") {
    val d = sf0001
    Graph.ensureKnnGraph(spark, d)
    val e = graft.core.Tables.embeddings(spark, d)
    val edges = Graph.storedEdgesPartitioned(spark, d)
    val routing = Graph.storedBuckets(spark, d)
    // the jobs of one profiled walk. SQL jobs carry the session's
    // explicitly-set spark.* confs as job properties, so a walk that
    // flipped AQE would start some of them with "false"
    def walk(allowed: Option[org.apache.spark.sql.Column]) =
      graft.core.QueryProfile.run(spark)(
        Graph.graphAnnBatchOn(e, edges, routing, col("vec_id") < Graph.GannBatchQ,
          allowed = allowed))._2
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val g8 = walk(None)
    val rounds = g8.spans.keys.count(_.startsWith("hop"))
    val hopJobs = g8.jobs.count(_.span.startsWith("hop"))
    val finalJobs = g8.jobs.count(_.span == "final")
    assert(rounds >= 2, s"the fixture walk should take several rounds, took $rounds")
    assert(hopJobs === rounds, s"$hopJobs hop jobs for $rounds executed rounds")
    assert(finalJobs === 0 && g8.spans("final").jobWallS === 0.0,
      s"the final selection ran $finalJobs jobs")
    // the g11 form adds the predicate's point fetch, a SQL job
    val g11 = walk(Some(col("label").isin(graft.operators.Indexed.FilterLabels: _*)))
    val aqe = (g8.jobs ++ g11.jobs).map(_.adaptive).filter(_.nonEmpty)
    assert(aqe.nonEmpty && aqe.forall(_ == "true"),
      s"walk SQL jobs saw spark.sql.adaptive.enabled = ${aqe.distinct}")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("a caller's sort and casts over the walk's result run no job after the last hop round") {
    val d = sf0001
    Graph.ensureKnnGraph(spark, d)
    val e = graft.core.Tables.embeddings(spark, d)
    val edges = Graph.storedEdgesPartitioned(spark, d)
    val routing = Graph.storedBuckets(spark, d)
    def serve() = Graph.graphAnnBatchOn(e, edges, routing, col("vec_id") === 7L).orderBy("rk")
      .select(col("vec_id"), col("visited_n").cast("long"), col("hops_n").cast("long"))
      .collect()
    val first = serve()
    val (rows, p) = graft.core.QueryProfile.run(spark)(serve())
    val spans = p.jobs.map(_.span)
    val lastHop = spans.lastIndexWhere(_.startsWith("hop"))
    assert(lastHop >= 0, s"no hop job among $spans")
    assert(spans.drop(lastHop + 1).isEmpty,
      s"jobs after the last hop round: ${spans.drop(lastHop + 1)}")
    assert(rows.toSeq === first.toSeq && rows.nonEmpty)
  }

  test("stored edges and routing tables are read with the schemas a build writes") {
    val dir = Graph.ensureKnnGraph(spark, sf0001)
    def types(t: org.apache.spark.sql.types.StructType) =
      t.fields.map(f => f.name -> f.dataType.catalogString).toSeq
    assert(types(spark.read.parquet(s"$dir/edges").schema) === types(Graph.EdgesSchema))
    assert(types(spark.read.parquet(s"$dir/buckets").schema) === types(Graph.BucketsSchema))
  }

  test("append is bounded: candidates come from the routing table, not a corpus pair scan") {
    val (d, heldOut) = splitDataset()
    val base = graft.core.Tables.embeddings(spark, d)
    Graph.ensureKnnGraph(spark, d)
    // a one-vector delta must not rebuild the graph: its new pair
    // count is ≤ SrpTables·MaxBucket, and stored edges for
    // unaffected srcs are byte-identical (their partitions were
    // carried forward as hard links, not rewritten)
    val one = heldOut.orderBy("vec_id").limit(1)
    val oneId = one.collect().head.getLong(0)
    val before = edgeSet(Graph.storedEdges(spark, d))
    Graph.appendKnnGraph(spark, d, one, base)
    val after = edgeSet(Graph.storedEdges(spark, d))
    // blast radius: srcs whose edge rows changed = the new node plus
    // its bucket cohabitants — a small fraction of the graph, never a
    // bulk rewrite
    val changedSrcs = ((before -- after) ++ (after -- before)).map(_._1)
    val allSrcs = before.map(_._1)
    assert(changedSrcs.size <= allSrcs.size / 10 + 1,
      s"one-vector append touched ${changedSrcs.size} of ${allSrcs.size} srcs")
    assert(after.exists(_._1 == oneId),
      "appended vector should gain out-edges (it has same-corpus candidates)")
  }
}
