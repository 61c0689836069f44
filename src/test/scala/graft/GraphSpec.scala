package graft

import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.functions._

/** Graph-analytics family: integer-dot exactness, kNN-graph contract
  * (bounded out-degree, dense ranks, symmetry of the candidate set),
  * integer PageRank semantics on known graphs, triangle-census
  * identities, and the no-cartesian scale contract.
  */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  test("intDot: quantized integer dot product matches hand arithmetic") {
    // floor(x*1024) per element, then exact int64 products/sums —
    // values chosen to exercise negatives (floor != truncate) and
    // non-representable decimals (0.1f widens exactly to double)
    val df = Seq((Array(0.5f, -0.25f, 0.1f), Array(1.0f, 0.5f, -0.3f)))
      .toDF("a", "b")
    val got = df.select(Graph.intDot(col("a"), col("b")).as("w"))
      .head().getLong(0)
    val q = (x: Float) => math.floor(x.toDouble * 1024).toLong
    val exp = q(0.5f) * q(1.0f) + q(-0.25f) * q(0.5f) + q(0.1f) * q(-0.3f)
    assert(got === exp)
  }

  test("intDot's Scala twin ≡ the Catalyst intDot, and edgeBucketOfId ≡ edgeBucketOf (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // exact multiples of 1/QuantScale and their float neighbours sit on
    // the edge of a quantization step, where floor jumps; both signs
    val step: Gen[Float] = for {
      k <- Gen.choose(-3000, 3000)
      nudge <- Gen.oneOf(0, 1, -1)
    } yield {
      val x = k.toFloat / Graph.QuantScale
      if (nudge > 0) Math.nextUp(x) else if (nudge < 0) Math.nextDown(x) else x
    }
    val elem: Gen[Float] = Gen.frequency(
      2 -> step, 1 -> Gen.choose(-2.0f, 2.0f), 1 -> Gen.oneOf(0.0f, -0.0f, 0.1f, -0.1f))
    val pair: Gen[(Array[Float], Array[Float])] = for {
      n <- Gen.choose(0, 70)
      a <- Gen.listOfN(n, elem)
      b <- Gen.listOfN(n, elem)
    } yield (a.toArray, b.toArray)
    val pairs = Gen.listOfN(300, pair).apply(Gen.Parameters.default, Seed(20261019L))
      .getOrElse(fail("generator exhausted"))
    val catalyst = pairs.toDF("a", "b")
      .select(Graph.intDot(col("a"), col("b"))).collect().map(_.getLong(0)).toSeq
    val twin = pairs.map { case (a, b) =>
      Graph.intDotQ(Graph.quantized(a.map(_.toDouble)), b.map(_.toDouble)) }
    assert(twin === catalyst)
    val ids = Gen.listOfN(500, Gen.oneOf(Gen.choose(-1000L, 100000L),
        Gen.choose(Long.MinValue, Long.MaxValue)))
      .apply(Gen.Parameters.default, Seed(7L)).getOrElse(fail("generator exhausted"))
    val hashed = ids.toDF("id").select(Graph.edgeBucketOf(col("id")))
      .collect().map(_.getInt(0)).toSeq
    assert(ids.map(Graph.edgeBucketOfId) === hashed)
  }

  test("knnGraphEdges: bounded out-degree, dense ranks, descending weights, no self-loops") {
    val edges = Graph.knnGraphEdgesOn(
        graft.core.Tables.embeddings(spark, sf0001))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    Dedup.releaseSlots()
    assert(edges.nonEmpty)
    assert(edges.forall { case (s, d, _, _) => s != d }, "self-loop")
    for ((_, out) <- edges.groupBy(_._1)) {
      assert(out.length <= Graph.GraphTopG)
      // ranks are dense 1..k and weights non-increasing in rank order
      val byRk = out.sortBy(_._4)
      assert(byRk.map(_._4).toSeq === (1 to out.length))
      val ws = byRk.map(_._3)
      assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
    }
  }

  test("pageRank: symmetric 2-cycle ranks equal; star center out-ranks leaves; isolated node holds base") {
    // graph: 1<->2 (cycle), star 10->{11,12,13} plus back-edges
    // 11->10, 12->10, 13->10, and isolated node 99
    val nodes = Seq(1L, 2L, 10L, 11L, 12L, 13L, 99L).toDF("vec_id")
    val edges = Seq((1L, 2L), (2L, 1L),
        (10L, 11L), (10L, 12L), (10L, 13L),
        (11L, 10L), (12L, 10L), (13L, 10L))
      .toDF("src", "dst")
    val got = Graph.pageRankOn(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = 7L
    val r0 = Graph.PrScale / n
    val base = 15L * r0 / 100L
    // the 2-cycle is internally symmetric: both nodes always equal
    assert(got(1L) === got(2L))
    // leaves are symmetric too
    assert(got(11L) === got(12L) && got(12L) === got(13L))
    // the star center receives THREE whole ranks per round, each leaf
    // a third of one: center must dominate
    assert(got(10L) > got(11L))
    // no in-edges → every round after the first is exactly base
    assert(got(99L) === base)
    // fixed-iteration determinism: a second run is bit-identical
    val again = Graph.pageRankOn(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("pageRank: one round on a known graph matches the unrolled formula") {
    // single-iteration hand check of the EXACT integer recurrence on
    // 1->3, 2->3, 3->1 with n=3 (verifies div/damping placement, the
    // part a symmetric fixture can't distinguish)
    val nodes = Seq(1L, 2L, 3L).toDF("vec_id")
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r0 = Graph.PrScale / 3L
    val base = 15L * r0 / 100L
    var r = Map(1L -> r0, 2L -> r0, 3L -> r0)
    for (_ <- 1 to Graph.PrIters) {
      val c3 = r(1L) / 1 + r(2L) / 1 // outdeg 1 each
      val c1 = r(3L) / 1
      r = Map(1L -> (base + 85L * c1 / 100L),
        2L -> base,
        3L -> (base + 85L * c3 / 100L))
    }
    val got = Graph.pageRankOn(nodes, edges)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === r)
  }

  test("triangle census: identities hold on the real corpus") {
    val row = Graph.g3Triangles(spark, sf0001).head()
    Dedup.releaseSlots()
    val (nodes, edges, wedges, tris, ppm) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    assert(nodes === 500L)
    // undirected edge bound: each node emits ≤ TopG directed edges
    assert(edges <= nodes * Graph.GraphTopG)
    // every triangle closes exactly 3 wedges
    assert(wedges >= 3 * tris)
    assert(ppm === (if (wedges > 0) 3000000L * tris / wedges else 0L))
  }

  test("kcore: peel keeps exactly the dense part of clique+chain") {
    // 6-clique (every degree 5) with a 4-node chain hanging off node 0:
    // the 3-core peels the chain (degrees ≤ 2 cascade away) and keeps
    // the clique with its internal degrees intact
    val clique = for (a <- 0L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val chain = Seq((0L, 10L), (10L, 11L), (11L, 12L))
    val edges = (clique ++ chain).toDF("src", "dst")
    val got = Graph.kcoreOn(edges, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.map(_._1).sorted === (0L to 5L).toArray)
    assert(got.forall(_._2 === 5L)) // chain edge at node 0 is gone
    assert(got.forall(_._3)) // converged
  }

  test("kcore: a tree has no 3-core; a too-deep peel reports non-convergence") {
    val tree = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L), (2L, 5L)).toDF("src", "dst")
    assert(Graph.kcoreOn(tree, k = 3).count() === 0L)
    // 2-core peel of a 20-node path strips one node per end per round:
    // needs ~9 rounds, so the CoreIters=8 budget must SAY it fell short
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("src", "dst")
    val r = Graph.kcoreOn(path, k = 2).collect()
    assert(r.nonEmpty && r.forall(!_.getBoolean(2)), "expected converged=false")
  }

  test("kcore on the corpus: non-vacuous peel, core degrees honor k, converged") {
    val rows = SparkEntry.queries("q_g4_kcore")(spark, sf0001).collect()
    Dedup.releaseSlots()
    assert(rows.nonEmpty && rows.length < 500) // somebody survives, somebody peels
    assert(rows.forall(_.getLong(1) >= Graph.CoreK))
    assert(rows.forall(_.getBoolean(2)))
  }

  test("pprOn: mass stays in the seed's component; empty seed set fails loudly") {
    // two components: seed-bearing triangle 0-1-2 and disjoint pair 10-11
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 0L), (0L, 2L),
        (10L, 11L), (11L, 10L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 10L, 11L).toDF("vec_id")
    val r = Graph.pprOn(nodes, edges, col("vec_id") === 0L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(10L) === 0L && r(11L) === 0L, "disconnected component must hold zero mass")
    assert(r(0L) > r(1L) && r(0L) > r(2L), "seed keeps the teleport mass")
    assert(r(1L) > 0L && r(2L) > 0L, "neighbors receive propagated mass")
    assert(r(1L) === r(2L), "symmetric neighbors rank equally")
    val err = intercept[IllegalArgumentException] {
      Graph.pprOn(nodes, edges, lit(false))
    }
    assert(err.getMessage.contains("seed"))
  }

  test("graph ANN: finds the in-corpus query at rank 1, touches a bounded neighborhood") {
    val rows = SparkEntry.queries("q_g7_graph_ann")(spark, sf0001).collect()
    Dedup.releaseSlots()
    assert(rows.length === Graph.GannTopK)
    // the query IS a corpus vector: its own node must win with the
    // self-dot score (the strongest possible integer dot)
    assert(rows.head.getLong(0) === Graph.GannQueryId)
    assert(rows.map(_.getLong(1)).max === rows.head.getLong(1))
    val visited = rows.head.getLong(3)
    // seeds are the query's capped-bucket cohabitants (≤ SrpTables·
    // MaxBucket), then ≤ beam·G scored expansions per executed hop
    val bound = Dedup.SrpTables.toLong * Dedup.MaxBucket +
      Graph.GannHops.toLong * Graph.GannBeam * Graph.GraphTopG
    assert(visited <= bound, s"visited $visited breaches the construction bound $bound")
    assert(visited < 500L, s"walk touched the whole corpus: $visited")
    assert(rows.forall(_.getLong(3) === visited), "audit column must be constant")
    // hop attestation: on this 500-node corpus the beam tail genuinely
    // churns to the budget (measured — each round still swaps in a
    // marginally better node), so hops_n = the full budget here; the
    // constructed-graph test below and the sf0.1 serve (hops_n 7-8)
    // prove the early exit fires when the fixpoint is real
    val hops = rows.head.getLong(4)
    assert(hops >= 1L && hops <= Graph.GannHops.toLong)
    assert(rows.forall(_.getLong(4) === hops), "hop attestation must be constant")
  }

  test("graph ANN: seeded entry starts in the query's capped bucket; beam stops at its fixpoint") {
    import spark.implicits._
    // Nodes 1 (the query), 2, 3 share ONE embedding — the real SRP
    // kernel hashes them into the same bucket in every table. Node 0
    // carries the NEGATED vector: every projection dot flips sign, so
    // its bucket bits are the complement of the query's in every
    // table — provably never co-bucketed. Edges connect only 2<->3
    // and carry the stored layout's denormalized dst vector.
    val v = Array.fill(64)(0.1f)
    val nv = v.map(-_)
    val e = Seq((0L, nv), (1L, v), (2L, v), (3L, v)).toDF("vec_id", "embedding")
    // the routing table holds the INDEXED nodes (not the query — the
    // external-query serve path; a corpus query hashes identically)
    def routingOf(ids: Long*) =
      Graph.bucketRowsOf(e.filter(col("vec_id").isin(ids.map(Long.box): _*)))
    val routing = routingOf(0L, 2L, 3L)
    val edges = Seq((2L, 3L, 0L, 1, v), (3L, 2L, 0L, 1, v))
      .toDF("src", "dst", "w", "rk", "dvec")
    val out = Graph.graphAnnBatchOn(e, edges, routing,
      col("vec_id") === 1L).collect()
    // seeds = BOTH co-bucketed ids {2, 3}; hop 1 expands them into
    // each other (beam unchanged → immediate fixpoint) — never node 0
    // (the complement-bucketed one), never the 10-round budget
    assert(out.map(_.getLong(1)).toSet === Set(2L, 3L))
    assert(out.forall(_.getLong(4) === 2L), "visited = the two seeds")
    assert(out.forall(_.getLong(5) === 1L),
      s"expected fixpoint on hop 1, got ${out.map(_.getLong(5)).toSet}")
    // a query co-bucketed with nobody (the routing now holds only the
    // complement-bucketed node 0) falls back to the global routing
    // minimum as its seed
    val r0 = routingOf(0L)
    val out0 = Graph.graphAnnBatchOn(e, edges, r0,
      col("vec_id") === 1L).collect()
    assert(out0.map(_.getLong(1)).toSet === Set(0L),
      "isolated query must seed at the global routing min (node 0)")
    assert(out0.forall(_.getLong(5) === 1L),
      "an edgeless seed is its own fixpoint on hop 1")
  }

  test("graph ANN: timed mode records per-phase walls + job/task split, result unchanged") {
    import spark.implicits._
    val v = Array.fill(64)(0.1f)
    val nv = v.map(-_)
    val e = Seq((0L, nv), (1L, v), (2L, v), (3L, v)).toDF("vec_id", "embedding")
    val routing = Graph.bucketRowsOf(e.filter(col("vec_id").isin(0L, 2L, 3L)))
    val edges = Seq((2L, 3L, 0L, 1, v), (3L, 2L, 0L, 1, v))
      .toDF("src", "dst", "w", "rk", "dvec")
    def serve() = Graph.graphAnnBatchOn(e, edges, routing,
      col("vec_id") === 1L).collect().map(_.toString).sorted.toSeq
    val plain = serve()
    val (profiled, p) = graft.core.QueryProfile.run(spark)(serve())
    assert(profiled === plain, "the profile must not change the served rows")
    for (k <- Seq("seed", "seed_score", "hop1", "final"))
      assert(p.spans.contains(k), s"missing phase $k in ${p.spans.keys}")
    assert(p.spans.keys.count(_.startsWith("hop")) === 1, "this fixture fixpoints on hop 1")
    // Spark-side attribution arrived for each phase that runs a job
    for (g <- Seq("seed", "seed_score", "hop1"))
      assert(p.spans(g).jobs >= 1 && p.spans(g).taskS >= 0.0, s"$g: ${p.spans(g)}")
    assert(p.spans("final").jobs === 0, "no predicate: the final selection runs no job")
  }

  test("graph ANN: entrant-only expansion ≡ full re-expansion reference on random graphs") {
    import spark.implicits._
    // The shipped hop loop expands only NEW beam entrants, arguing a
    // dropped candidate can never re-qualify (monotone (score, id)
    // cutoff). This spec checks the claim against a driver-only
    // reference that re-expands the WHOLE beam every hop — identical
    // top-K rows, visited_n, and hops_n on random graphs of several
    // sizes, beyond the two registered-corpus hash gates.
    val rnd = new scala.util.Random(20260814L)
    def qdot(a: Array[Float], b: Array[Float]): Long = {
      var s = 0L; var i = 0
      while (i < 64) {
        s += math.floor(a(i).toDouble * Graph.QuantScale).toLong *
          math.floor(b(i).toDouble * Graph.QuantScale).toLong
        i += 1
      }
      s
    }
    for (n <- Seq(60, 90)) {
      val vecs: Seq[(Long, Array[Float])] =
        (0L until n.toLong).map(i => i -> Array.fill(64)(rnd.nextFloat() - 0.5f))
      val e = vecs.toDF("vec_id", "embedding")
      val edges = Graph.knnGraphEdgesOn(e)
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("dvec")), "dst")
        .select("src", "dst", "w", "rk", "dvec")
        .persist()
      val routing = Graph.bucketRowsOf(e).persist()
      val (beamW, hopB, topK) = (8, 6, Graph.GannTopK)
      val isQ = col("vec_id") < 4L
      val got = Graph.graphAnnBatchOn(e, edges, routing, isQ,
          beam = beamW, hops = hopB)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      // ---- reference: full re-expansion, driver-only
      val emb = vecs.toMap
      val adj: Map[Long, Seq[Long]] = edges.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      val seeds = Graph.seededEntries(Graph.queryVectors(e, isQ), routing)
      def topB(pool: Iterable[(Long, Long)], b: Int): Set[(Long, Long)] =
        pool.toSeq.distinct.sortBy { case (vid, sc) => (-sc, vid) }
          .take(b).toSet
      val want = seeds.toSeq.flatMap { case (qid, sds) =>
        val qv = emb(qid)
        var visited = Map.empty[Long, Long]
        for (sid <- sds) visited += sid -> qdot(emb(sid), qv)
        var beamSet = topB(visited.toSeq.map { case (v2, s2) => (v2, s2) }, beamW)
        var hopsN = hopB.toLong
        var k = 0
        var running = true
        while (running && k < hopB) {
          k += 1
          // FULL re-expansion: every beam member's out-edges, every hop
          val dsts = beamSet.toSeq.flatMap(x => adj.getOrElse(x._1, Seq.empty))
            .map(d => { val sc = qdot(emb(d), qv); visited += d -> sc; (d, sc) })
          val next = topB(beamSet ++ dsts, beamW)
          if (next == beamSet) { hopsN = k.toLong; running = false }
          else beamSet = next
        }
        visited.toSeq.sortBy { case (vid, sc) => (-sc, vid) }.take(topK)
          .zipWithIndex.map { case ((vid, sc), i) =>
            (qid, vid, sc, (i + 1).toLong, visited.size.toLong, hopsN) }
      }.toSet
      edges.unpersist(); routing.unpersist()
      Dedup.releaseSlots()
      assert(got === want,
        s"n=$n: shipped loop diverged from full re-expansion reference — " +
          s"missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
    }
  }

  test("kcoreOn ≡ in-memory restriction reference on random graphs, INCLUDING the round-cap truncation state") {
    // the degree-decrement rewrite's diciest equivalence is the
    // CoreIters truncation boundary: an unconverged exit must carry
    // the SAME degrees the edge-restriction formulation leaves behind
    // (and drop nodes whose last neighbor died in the final round)
    def refKcore(edges: Set[(Long, Long)], k: Int): (Map[Long, Long], Boolean) = {
      var e = edges; var rounds = 0; var fixed = false
      while (rounds < Graph.CoreIters && !fixed) {
        val deg = e.toSeq.flatMap(t => Seq(t._1, t._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val kept = deg.filter(_._2 >= k).keySet
        val e2 = e.filter(t => kept(t._1) && kept(t._2))
        fixed = e2.size == e.size
        e = e2; rounds += 1
      }
      (e.toSeq.flatMap(t => Seq(t._1, t._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap, fixed)
    }
    val rnd = new scala.util.Random(20260815L)
    val cases: Seq[Set[(Long, Long)]] =
      // a 24-path with k=2 peels one layer per round from each end —
      // 11 reduction rounds > CoreIters: the guaranteed-truncation case
      Seq((0L until 23L).map(i => (i, i + 1)).toSet) ++
        (1 to 4).map { _ =>
          val n = 10 + rnd.nextInt(15)
          (0 until (2 * n)).map { _ =>
            val a = rnd.nextInt(n).toLong
            val b = (a + 1 + rnd.nextInt(n - 1)) % n
            (math.min(a, b), math.max(a, b))
          }.toSet
        }
    for (es <- cases;
         (budget, wantMode) <- Seq(("1000000", "driver"), ("-1", "distributed"))) {
      spark.conf.set("graft.graph.driverEdgeBudget", budget)
      try {
        val df = es.toSeq.toDF("src", "dst")
        val (got, notes) = withNotes(Graph.kcoreOn(df, k = 2).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))))
        assert(notes.get("peel_mode") === Some(wantMode))
        val (wantDeg, wantConv) = refKcore(es, 2)
        assert(got.map(t => (t._1, t._2)).toMap === wantDeg,
          s"degrees diverge from the restriction reference on $es ($wantMode)")
        assert(got.forall(_._3 == wantConv),
          s"converged bit must be $wantConv on $es ($wantMode)")
        Dedup.releaseSlots()
      } finally spark.conf.unset("graft.graph.driverEdgeBudget")
    }
  }

  test("driver rank rounds ≡ distributed loops on random graphs with danglers, isolates, and off-edge seeds (property)") {
    // the corpus equivalence spec covers one graph shape; random
    // fixtures pin the edge cases the broadcast-fill formulation must
    // get right — isolated nodes (teleport constant every round),
    // dangling nodes (contribute nothing, still receive), seeds with
    // no edges at all, and edge endpoints OUTSIDE the node frame
    // (carry no rank on either path)
    val rnd = new scala.util.Random(20260815L)
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (trial <- 1 to 4) {
      val n = 8 + rnd.nextInt(10)
      // node frame: 0..n-1 plus isolated ids 900..902 (never in edges)
      val nodes = ((0L until n.toLong) ++ Seq(900L, 901L, 902L)).toDF("vec_id")
      // directed edges incl. danglers; endpoint 777 is OUTSIDE nodes
      val edges = ((0 until (2 * n)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(t => t._1 != t._2) ++ Seq((0L, 777L), (777L, 1L)))
        .distinct.toDF("src", "dst")
      // seed set includes an isolated node (901) — teleports in place
      val seed = col("vec_id") === 901L || col("vec_id") < 3L
      val wantPr = m(Graph.pageRankOn(nodes, edges))
      val wantPpr = m(Graph.pprOn(nodes, edges, seed))
      for ((budget, wantMode) <- Seq(("1000000", "driver"), ("-1", "distributed"))) {
        spark.conf.set("graft.graph.driverEdgeBudget", budget)
        try {
          val ((pr, ppr), notes) = withNotes(Graph.rankTablesOn(nodes, edges, seed))
          val gotPr = m(pr); val gotPpr = m(ppr)
          assert(notes.get("rank_mode") === Some(wantMode))
          assert(gotPr === wantPr, s"trial $trial PageRank ($wantMode)")
          assert(gotPpr === wantPpr, s"trial $trial PPR ($wantMode)")
          assert(gotPr.keySet.contains(900L) && !gotPr.keySet.contains(777L),
            "node frame is the spine: isolates present, foreign endpoints absent")
        } finally spark.conf.unset("graft.graph.driverEdgeBudget")
      }
    }
    Dedup.releaseSlots()
  }

  test("driver union-find ≡ distributed CC on random graphs (property, both variants)") {
    val rnd = new scala.util.Random(4242L)
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (trial <- 1 to 4) {
      val n = 12 + rnd.nextInt(20)
      val pairs = (0 until (n + rnd.nextInt(2 * n))).map { _ =>
        val a = rnd.nextInt(n).toLong
        val b = (a + 1 + rnd.nextInt(n - 1)) % n
        (a, b)
      }.distinct.toDF("a", "b")
      var ref: Option[Map[Long, Long]] = None
      // budget -1 forces the distributed loops; the star path then runs
      // the local-contraction prelude (cross-partition forest merge)
      // before its star loop
      for (budget <- Seq("1000000", "-1")) {
        spark.conf.set("graft.graph.driverEdgeBudget", budget)
        try {
          val lp = got(graft.operators.Corpus.connectedComponents(pairs, "a", "b"))
          val (st, notes) = withNotes(
            got(graft.operators.Corpus.connectedComponentsStar(pairs, "a", "b")))
          assert(lp === st,
            s"trial $trial: label-prop ≠ star at budget $budget")
          if (budget == "-1")
            assert(notes.get("cc_contract_levels").exists(_.toInt >= 1),
              s"trial $trial: forced-distributed star must have contracted")
          ref match {
            case None => ref = Some(lp)
            case Some(r) => assert(lp === r,
              s"trial $trial: assignment changed across serve paths")
          }
        } finally spark.conf.unset("graft.graph.driverEdgeBudget")
      }
    }
    // d7-shaped axis (r18): random CHAIN-spined graphs whose diameter
    // exceeds MaxCcIters — the boilerplate-family crawl pathology that
    // got q_d7 re-routed onto the star path. The star loop must solve
    // them forced-distributed (after the contraction prelude) to the
    // exact in-budget union-find answer, while the
    // min-label fixpoint — kept only as the spec-side reference —
    // provably CANNOT: past the budget it must fail loudly at the cap.
    for (trial <- 1 to 3) {
      val len = 25 + rnd.nextInt(30) // diameter > MaxCcIters = 20
      val chain = (0L until len.toLong).map(i => (i, i + 1))
      // a few random shortcuts between NEARBY nodes keep the diameter
      // deep (long-range shortcuts would collapse it below the cap)
      val extra = (0 until 4).map { _ =>
        val a = rnd.nextInt(len - 2).toLong
        (a, a + 2L)
      }
      val pairs = (chain ++ extra).distinct.toDF("a", "b")
      spark.conf.set("graft.graph.driverEdgeBudget", "1000000")
      val want = try got(graft.operators.Corpus.connectedComponents(pairs, "a", "b"))
        finally spark.conf.unset("graft.graph.driverEdgeBudget")
      assert(want.values.forall(_ == 0L), s"chain trial $trial: one component")
      spark.conf.set("graft.graph.driverEdgeBudget", "-1")
      try {
        val (st, notes) = withNotes(
          got(graft.operators.Corpus.connectedComponentsStar(pairs, "a", "b")))
        assert(st === want, s"chain trial $trial: star ≠ reference")
        assert(notes.get("cc_mode") === Some("distributed"))
        assert(notes.get("cc_contract_levels").exists(_.toInt >= 1),
          s"chain trial $trial: forced-distributed star must have contracted")
        val e = intercept[IllegalArgumentException] {
          graft.operators.Corpus.connectedComponents(pairs, "a", "b")
        }
        assert(e.getMessage.contains("did not converge"),
          s"chain trial $trial: fixpoint past the cap must fail loudly")
      } finally spark.conf.unset("graft.graph.driverEdgeBudget")
    }
    Dedup.releaseSlots()
  }

  test("over-cap buckets admit id-ordered representatives: duplicate families keep pairs and seeds") {
    // r18: 1050 copies of one vector — every bucket the family hashes
    // into holds ≥1050 members, past Dedup.MaxBucket=1000. Under the
    // old drop-the-bucket rule the family had NO pairs and NO seeds
    // (an unreachable island, the r17 adversarial-probe pathology);
    // under id-ordered representatives its 1000 lowest ids stay
    // pair-connected and seedable, and capped buckets are untouched.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val famVec = Array.tabulate(64)(i => (if (i % 3 == 0) 1.0f else -0.5f) * (1 + i % 5))
    // near-zero outsiders: their dot with the family is far below the
    // family's self-dot, so they can never displace a family dst from
    // any rep's top-G, whatever buckets they land in
    val otherVec = Array.tabulate(64)(i => if (i == 0) 0.01f else 0.0f)
    val rows: Seq[Row] =
      (100L until 1150L).map(id => Row(id, famVec.toSeq)) ++
        Seq(Row(1L, otherVec.toSeq), Row(2L, otherVec.map(_ * 0.9f).toSeq))
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val e = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 8), schema)
    val edges = Graph.knnGraphEdgesOn(e)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    Dedup.releaseSlots()
    val famSrcs = edges.filter(_._1 >= 100L).map(_._1).distinct
    assert(famSrcs.nonEmpty,
      "family representatives must have out-edges (old rule: pairless island)")
    // representatives = ids 100..1099; overflow ids 1100..1149 are not
    // admitted to pair candidacy anywhere, so they never appear
    assert(edges.forall { case (s, d) => s < 1100L && d < 1100L },
      "non-representative family members must stay outside pair candidacy")
    // all family pair weights tie (identical vectors): each rep's
    // GraphTopG out-edges break ties by dst ASC — the lowest ids, the
    // same ids the serve-side (sc DESC, vec_id ASC) selection prefers
    val dstsOfMin = edges.filter(_._1 == 100L).map(_._2).sorted.toSeq
    assert(dstsOfMin === (101L to (100L + Graph.GraphTopG)).toSeq,
      s"tie-broken out-edges must be the lowest family ids, got $dstsOfMin")
    // seeding: a family query's over-cap buckets contribute their
    // lowest-id representatives, bounded per bucket by MaxBucket
    val qv = Graph.queryVectors(e, col("vec_id") === 100L)
    val routing = e.select(col("vec_id"),
      posexplode(graft.functions.SrpKernel.srpBuckets(
        col("embedding"), Dedup.SrpProj)).as(Seq("tbl", "bkt")))
    val seeds = Graph.seededEntries(qv, routing)(100L)
    assert(seeds.nonEmpty && seeds.forall(v => v != 100L),
      "over-cap bucket must still seed (old rule: empty → min-id fallback)")
    assert(seeds.contains(101L) && !seeds.exists(_ >= 1100L),
      "seeds are the id-ordered representatives, never the overflow tail")
  }

  test("fused rank loop ≡ separate pageRankOn / pprOn, on a known graph and on the corpus pairs") {
    // synthetic: the 2-cycle + star + isolated fixture with seed = 1
    val nodes = Seq(1L, 2L, 10L, 11L, 12L, 13L, 99L).toDF("vec_id")
    val edges = Seq((1L, 2L), (2L, 1L),
        (10L, 11L), (10L, 12L), (10L, 13L),
        (11L, 10L), (12L, 10L), (13L, 10L))
      .toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (fPr, fPpr) = Graph.rankTablesOn(nodes, edges, col("vec_id") === 1L)
    assert(m(fPr) === m(Graph.pageRankOn(nodes, edges)),
      "fused PageRank column must be bit-identical to the separate loop")
    assert(m(fPpr) === m(Graph.pprOn(nodes, edges, col("vec_id") === 1L)),
      "fused PPR column must be bit-identical to the separate loop")
    // and on the real corpus graph (the stats refresh's exact inputs)
    val vecs = graft.core.Tables.embeddings(spark, sf0001)
    val ce = Graph.knnGraphEdgesOn(vecs).select("src", "dst")
    val nd = vecs.select("vec_id")
    val seed = col("vec_id") < Graph.PprSeedMax
    // the fused loop's DRIVER fast path (default budget) and its
    // DISTRIBUTED loop (budget -1) must both match the separate
    // purely-distributed reference loops — cross-path equality on
    // the stats refresh's exact inputs
    val wantPr = m(Graph.pageRankOn(nd, ce))
    val wantPpr = m(Graph.pprOn(nd, ce, seed))
    for ((budget, wantMode) <- Seq(("1000000", "driver"), ("-1", "distributed"))) {
      spark.conf.set("graft.graph.driverEdgeBudget", budget)
      try {
        val ((cPr, cPpr), notes) = withNotes(Graph.rankTablesOn(nd, ce, seed))
        val gotPr = m(cPr); val gotPpr = m(cPpr)
        assert(notes.get("rank_mode") === Some(wantMode))
        assert(gotPr === wantPr, s"PageRank diverges on the $wantMode path")
        assert(gotPpr === wantPpr, s"PPR diverges on the $wantMode path")
      } finally spark.conf.unset("graft.graph.driverEdgeBudget")
    }
    Dedup.releaseSlots()
  }

  test("graph plans: no cartesian product anywhere in the family") {
    for (name <- Seq("q_g1_knn_graph", "q_g2_pagerank", "q_g3_triangles", "q_g4_kcore",
        "q_g6_ppr", "q_g7_graph_ann")) {
      val p = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n${p.take(2000)}")
      Dedup.releaseSlots()
    }
  }
}
