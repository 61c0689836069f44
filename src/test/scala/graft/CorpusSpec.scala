package graft

import graft.operators.Corpus
import org.apache.spark.sql.functions._

/** Corpus-preparation operators: connected-components semantics on a
  * known graph, decontamination/pack/tfidf sanity on the real corpus.
  */
class CorpusSpec extends SparkSuite {
  import spark.implicits._

  test("connectedComponents: known graph gets min-id labels; iterates past one hop — both serve paths") {
    // components: {1,2,3,9} (chain 9-3-2-1 forces >1 propagation round),
    // {5,6}, and {7,8}. Budget -1 forces the distributed loop (even an
    // empty probe overflows it); the default admits the driver path.
    val pairs = Seq((2L, 9L), (3L, 9L), (1L, 2L), (5L, 6L), (7L, 8L))
      .toDF("a", "b")
    for ((budget, wantMode) <- Seq(("1000000", "driver"), ("-1", "distributed"))) {
      spark.conf.set("graft.graph.driverEdgeBudget", budget)
      try {
        val (got, notes) = withNotes(Corpus.connectedComponents(pairs, "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        assert(notes.get("cc_mode") === Some(wantMode), s"budget $budget")
        assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
          5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L), s"mode $wantMode")
      } finally spark.conf.unset("graft.graph.driverEdgeBudget")
    }
  }

  test("loopPartsFor: floor on tiny graphs, core-bound middle, memory-bound top") {
    val par = 32
    // sf-scale pair graphs keep the cheap-scheduling floor
    assert(Corpus.loopPartsFor(0L, par) === Corpus.MinLoopParts)
    assert(Corpus.loopPartsFor(10000L, par) === Corpus.MinLoopParts)
    // core-bound regime: enough edges to keep every core busy uses
    // them all, never more than the cluster width
    assert(Corpus.loopPartsFor(1000000L, par) === par)
    // memory-bound regime: a crawl-scale edge set sizes partitions for
    // task memory, INDEPENDENT of core count — the r9 constant's
    // serial-bottleneck failure mode
    val big = Corpus.loopPartsFor(5000000000L, par)
    assert(big === (5000000000L / Corpus.LoopEdgesPerPartition + 1).toInt)
    assert(big > 10000)
    // monotone in the edge count at a fixed cluster width
    val seq = Seq(0L, 50000L, 500000L, 5000000L, 50000000L, 500000000L)
      .map(Corpus.loopPartsFor(_, par))
    assert(seq === seq.sorted)
  }

  test("connectedComponents: empty pair graph converges to an empty result, no crash — both serve paths") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    for (budget <- Seq("1000000", "-1")) {
      spark.conf.set("graft.graph.driverEdgeBudget", budget)
      try assert(Corpus.connectedComponents(empty, "a", "b").count() === 0)
      finally spark.conf.unset("graft.graph.driverEdgeBudget")
    }
  }

  test("CC loops use RELIABLE checkpoints when a checkpoint dir is configured") {
    // the cluster path: with sc.setCheckpointDir, each fixpoint round
    // must land in the reliable store (survives executor loss), not
    // executor-local blocks — identical results, durable lineage cuts
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "suite assumes no prior checkpoint dir")
    val ckpt = tmpDir("cc-ckpt")
    // the SparkContext is shared across every suite in the forked test
    // JVM, and a lingering checkpoint dir flips OTHER tests' loops to
    // the reliable path (an extra checkpoint-write job per round broke
    // GraphIndexSpec's k-core job-count budget whenever this suite ran
    // first) — restore the executor-local default on the way out via
    // setCheckpointDir(null), which Option()s the argument back to None
    try {
      sc.setCheckpointDir(ckpt)
      val pairs = Seq((2L, 9L), (3L, 9L), (1L, 2L), (5L, 6L), (7L, 8L))
        .toDF("a", "b")
      val lp = Corpus.connectedComponents(pairs, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val star = Corpus.connectedComponentsStar(pairs, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
        5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L)
      assert(lp === exp && star === exp)
      // reliable checkpoint files actually landed under the dir
      def files(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(files).sum
        else 1L
      assert(files(new java.io.File(ckpt)) > 0,
        "no RDD checkpoint files written — loops still on localCheckpoint")
    } finally {
      sc.setCheckpointDir(null)
      assert(sc.getCheckpointDir.isEmpty, "checkpoint dir must be restored")
    }
  }

  test("connectedComponentsStar: known graph, long chain, empty graph — both serve paths") {
    // same graph as the label-propagation test; each fixture runs under
    // the driver fast path AND (budget -1) the distributed star loop
    for (budget <- Seq("1000000", "-1")) {
    spark.conf.set("graft.graph.driverEdgeBudget", budget)
    try {
    val pairs = Seq((2L, 9L), (3L, 9L), (1L, 2L), (5L, 6L), (7L, 8L))
      .toDF("a", "b")
    val got = Corpus.connectedComponentsStar(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
    // a 40-node chain: label propagation would need ~40 rounds; the
    // star algorithm's O(log² n) bound collapses it well inside the cap
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val chainGot = Corpus.connectedComponentsStar(chain, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainGot.size === 40)
    assert(chainGot.values.forall(_ == 1L), "whole chain is one component rooted at 1")
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Corpus.connectedComponentsStar(empty, "a", "b").count() === 0)
    // the two-edge cherry {(c,a),(c,b)} with c larger than both: no
    // node is parent AND child, so a chain-only convergence check
    // calls the INITIAL edge set a star forest and never merges a and
    // b (assigning c twice) — the r15 contracted-merge graphs are
    // exactly this shape and caught it; the check also requires
    // parent uniqueness now
    val cherry = Seq((470L, 203L), (470L, 409L)).toDF("a", "b")
    val cherryGot = Corpus.connectedComponentsStar(cherry, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cherryGot === Map(203L -> 203L, 409L -> 203L, 470L -> 203L),
      s"cherry graph must be ONE component rooted at the min: $cherryGot")
    } finally spark.conf.unset("graft.graph.driverEdgeBudget")
    }
  }

  test("over-budget star CC: local contraction shrinks a dense graph below the budget and serves the driver solve") {
    // K50: 1225 canonical edges over 50 nodes. One contraction level
    // emits ≤ (distinct nodes − components) forest edges PER PARTITION
    // — ≤ 8 partitions × 49 = 392 < the 400 budget BY CONSTRUCTION,
    // whatever the hash partitioning did — so the re-probe must admit
    // the driver solve (mode witness), and the labels must be the
    // exact component minimum (all 0).
    val k50 = (for {
      a <- 0L until 50L; b <- (a + 1) until 50L
    } yield (a, b)).toDF("a", "b")
    val expect = (0L until 50L).map(_ -> 0L).toMap
    def run(): (Map[Long, Long], Map[String, String]) =
      withNotes(Corpus.connectedComponentsStar(k50, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    spark.conf.set("graft.graph.driverEdgeBudget", "400")
    try {
      val (got, notes) = run()
      assert(got === expect)
      assert(notes.get("cc_mode") === Some("driver_contracted"),
        "1225 edges over budget 400 must contract (≤392 forest edges) and re-admit")
      assert(notes.get("cc_contract_levels") === Some("1"))
    } finally spark.conf.unset("graft.graph.driverEdgeBudget")
  }

  test("CC driver fast path ≡ distributed loops on the real corpus, with mode witnesses") {
    val pairs = graft.operators.Dedup.d2MinhashLshOn(
      spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_a", "doc_b")
    def runBoth(f: => org.apache.spark.sql.DataFrame)
        : (Map[Long, Long], Map[Long, Long]) = {
      def served(budget: String) = {
        spark.conf.set("graft.graph.driverEdgeBudget", budget)
        try withNotes(f.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        finally spark.conf.unset("graft.graph.driverEdgeBudget")
      }
      val (drv, drvNotes) = served("1000000")
      assert(drvNotes.get("cc_mode") === Some("driver"),
        "inside the budget the fused take must admit the driver path")
      val (dist, distNotes) = served("-1")
      assert(distNotes.get("cc_mode") === Some("distributed"),
        "over the budget the loop must serve — the scale path")
      (drv, dist)
    }
    val (drvLp, distLp) = runBoth(Corpus.connectedComponents(pairs, "doc_a", "doc_b"))
    assert(drvLp === distLp,
      "union-find must emit the label-propagation fixpoint exactly")
    val (drvSt, distSt) = runBoth(
      Corpus.connectedComponentsStar(pairs, "doc_a", "doc_b"))
    assert(drvSt === distSt,
      "union-find must emit the star-contraction fixpoint exactly")
    assert(drvLp === drvSt)
  }

  test("d17 shrinkage audit: per-source folds reconcile with the raw cluster assignment") {
    val got = Corpus.d17DedupShrinkage(spark, sf0001).collect()
    val cc = Corpus.d9CcBigstar(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty)
    // global reconciliation against the independent d9 assignment
    val clusterOf = cc.toMap
    assert(got.map(_.getLong(1)).sum === docs.length.toLong, "n_docs covers the corpus")
    assert(got.map(_.getLong(2)).sum === cc.length.toLong, "n_clustered = assignment rows")
    assert(got.map(_.getLong(4)).sum ===
      cc.count { case (id, cl) => id != cl }.toLong,
      "total dropped = non-canonical assignment rows")
    assert(got.map(_.getLong(6)).sum ===
      docs.collect { case (id, _, ch) if clusterOf.get(id).exists(_ != id) => ch }.sum,
      "chars_dropped folds the stored n_chars of exactly the dropped docs")
    // per-source sanity
    got.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2) && r.getLong(2) <= r.getLong(1),
        s"${r.getString(0)}: dropped <= clustered <= docs")
      assert(r.getLong(6) <= r.getLong(5), "chars_dropped <= chars_total")
      val pmil = r.getLong(7)
      assert(pmil >= 0 && pmil <= 1000 && pmil === r.getLong(6) * 1000 / r.getLong(5))
    }
    graft.operators.Dedup.releaseSlots()
  }

  test("d7 production path (star since r18) == min-label fixpoint reference on the real corpus") {
    // r18: q_d7 serves connectedComponentsStar (the declared scale
    // path); the min-label fixpoint stays the independent spec-side
    // cross-validation reference — this test IS that cross-check
    val d7 = Corpus.d7DedupClusters(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = graft.operators.Dedup.d2MinhashLshOn(
      spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_a", "doc_b")
    val ref = Corpus.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d7 === ref, "the scale-path algorithm must give the exact same clustering")
    val d9 = Corpus.d9CcBigstar(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d9 === d7)
  }

  test("driver budget default derives from the real heap: a small driver declines, never OOM-collects") {
    // no explicit conf → budget = min(2M, maxMemory / 4KB-per-edge).
    // A 4 MB heap derives budget 1024: K50's 1225 canonical edges must
    // overflow the raw probe — the driver path is DECLINED and the
    // contraction prelude serves instead (witnessed).
    assert(spark.conf.getOption("graft.graph.driverEdgeBudget").isEmpty,
      "suite assumes no lingering explicit budget")
    assert(Corpus.defaultEdgeBudget(4L * 1024 * 1024) === 1024)
    val k50 = (for {
      a <- 0L until 50L; b <- (a + 1) until 50L
    } yield (a, b)).toDF("a", "b")
    val expect = (0L until 50L).map(_ -> 0L).toMap
    spark.conf.set("graft.graph.driverEdgeBudget", "1024")
    try {
      val (got, notes) = withNotes(Corpus.connectedComponentsStar(k50, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(got === expect)
      assert(notes.get("cc_mode") !== Some("driver"),
        "1225 edges must overflow the 4 MB heap's 1024 budget")
      // contraction gets K50 under 1024, so the admitted form is the
      // budget-sized contracted forest, not the raw collect
      assert(notes.get("cc_mode") === Some("driver_contracted"))
    } finally spark.conf.unset("graft.graph.driverEdgeBudget")
    // an EXPLICIT conf is an operator override and wins verbatim,
    // even over the heap derivation
    spark.conf.set("graft.graph.driverEdgeBudget", "5000000")
    try assert(Corpus.driverEdgeBudget(spark) === 5000000)
    finally spark.conf.unset("graft.graph.driverEdgeBudget")
    // the real test JVM (-Xmx8g, the driver convention) derives the
    // probed ceiling: positive, never above 2M
    val real = Corpus.driverEdgeBudget(spark)
    assert(real > 0 && real <= Corpus.DriverEdgeBudgetCeiling.toInt)
  }

  test("d17 shrink_pmil zero-guard: an all-zero-chars source yields 0, not a NULL/error divergence") {
    // a metadata-only ingest whose char counts were never backfilled:
    // source "z" is one near-dup pair (identical text → jac 1.0, so
    // doc 2 is dropped) with stored n_chars = 0 — shrink_pmil must be
    // the DEFINED 0 on both engines, not Spark NULL vs DuckDB's
    // integer-division-by-zero error
    val dir = tmpDir("d17-zero")
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Seq(
      (1L, "z", 0L, t), (2L, "z", 0L, t),
      (3L, "n", 40L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "source", "n_chars", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = Corpus.d17DedupShrinkage(spark, dir).collect()
    val z = got.find(_.getString(0) == "z").get
    assert(z.getLong(4) === 1L, "one non-canonical doc dropped in z")
    assert(z.getLong(5) === 0L && !z.isNullAt(7) && z.getLong(7) === 0L,
      "zero chars_total must yield shrink_pmil = 0, never NULL")
    val n = got.find(_.getString(0) == "n").get
    assert(n.getLong(7) === 0L, "nothing dropped in n")
    graft.operators.Dedup.releaseSlots()
  }

  test("d7 clusters: every doc labeled with the min id of its d2 pair component") {
    val pairs = graft.operators.Dedup.d2MinhashLshOn(
      spark.read.parquet(s"$sf0001/documents.parquet"))
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Corpus.d7DedupClusters(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.nonEmpty)
    // every pair's two docs share a label, and labels are component members
    pairs.foreach { case (a, b) =>
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
    }
    assert(clusters.forall { case (doc, c) => c <= doc })
  }

  test("t12 pack: shards respect the budget boundary within each source") {
    val out = Corpus.t12Pack(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.foreach { case (_, _, _, cumBefore, shard) =>
      assert(shard === cumBefore / Corpus.PackBudget)
    }
    // within a source, cum_before is the running sum in doc_id order
    out.groupBy(_._2).foreach { case (_, docs) =>
      val sorted = docs.sortBy(_._1)
      var cum = 0L
      sorted.foreach { case (_, _, n, cumBefore, _) =>
        assert(cumBefore === cum); cum += n
      }
    }
  }

  test("d10 passage dedup: exact-duplicate docs have dup_frac 1; unique docs 0") {
    val out = Corpus.d10PassageDedup(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (id, nChunks, nDup, frac) =>
      assert(nDup <= nChunks, s"doc $id: dup chunks exceed total")
      assert(frac === (nDup.toDouble / nChunks * 1e6).round / 1e6)
    }
    // the corpus has exact duplicate docs (d1 finds them): every passage
    // of a duplicated doc occurs at least twice corpus-wide
    val canon = graft.operators.Dedup.d1Exact(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dupDocs = canon.groupBy(_._2).filter(_._2.size > 1)
      .values.flatten.map(_._1).toSet
    if (dupDocs.nonEmpty) {
      val byId = out.map(o => o._1 -> o._4).toMap
      dupDocs.flatMap(byId.get).foreach(frac => assert(frac === 1.0))
    }
  }

  test("t14 rarity: hapax-heavy docs score high rare_frac; ratios consistent") {
    val out = Corpus.t14Rarity(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (id, nTok, sumFreq, nRare) =>
      assert(nTok >= 1)
      assert(sumFreq >= nTok, s"doc $id: every token occurs at least once corpus-wide")
      assert(nRare <= nTok)
    }
  }

  test("e2 retention: offsets are non-negative and cohort day-0 counts cover the cohort") {
    val out = graft.operators.Temporal.retentionQ(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.forall(_._2 >= 0), "offset is measured from the user's first event")
    // day-0 row exists for every cohort (a user is active on their first day)
    val cohorts = out.map(_._1).toSet
    val day0 = out.filter(_._2 == 0L).map(_._1).toSet
    assert(day0 === cohorts)
  }

  test("d8 decontamination: reported overlaps are real shared-shingle counts") {
    val got = Corpus.d8Decontaminate(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every reported pair straddles the bench boundary and meets the floor
    got.foreach { case (train, bench, shared) =>
      assert(train >= Corpus.BenchIdMax && bench < Corpus.BenchIdMax)
      assert(shared >= Corpus.ContamMinShared)
    }
    info(s"contaminated pairs on sf0.001: ${got.length}")
  }

  test("d13 leakage: rates are well-formed and every row is a test-split doc") {
    val got = Corpus.d13Leakage(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    got.foreach { case (docId, nSh, nSeen, rate) =>
      // t6's split hash: bucket 9 is "test"
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString.take(7)
      assert(java.lang.Long.parseLong(md5, 16) % 10 === 9,
        s"doc $docId is not in the test split")
      assert(nSeen >= 0 && nSeen <= nSh)
      assert(math.abs(rate - nSeen.toDouble / nSh) <= 0.0005 + 1e-9,
        s"leak_rate $rate is not the rounded $nSeen/$nSh")
    }
    info(s"test docs measured on sf0.001: ${got.length}, " +
      f"mean leak rate ${got.map(_._4).sum / got.length}%.3f")
  }
}
