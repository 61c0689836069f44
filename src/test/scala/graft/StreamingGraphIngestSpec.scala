package graft

import graft.operators.{Dedup, Graph}
import graft.streaming.StreamingGraphIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming vector ingestion maintaining the stored kNN graph:
  * accepted waves grow the graph to the one-shot-rebuild state,
  * re-delivery is a no-op (the graph append is NOT idempotent — the
  * ledger gates it), the ledger-appended-but-graph-lost crash window
  * self-heals via the routing-table reconcile, and the analytics
  * artifact invalidates on append.
  */
class StreamingGraphIngestSpec extends SparkSuite {

  /** Fixture: dataset dir holding 80% of sf0.001 embeddings; returns
    * (dir, the two held-out waves).
    */
  private def freshDataset(): (String, DataFrame, DataFrame) = {
    val d = tmpDir("sgi")
    val full = graft.core.Tables.embeddings(spark, sf0001)
    full.filter(col("vec_id") % 10 < 8).write.parquet(s"$d/embeddings.parquet")
    (d,
      full.filter(col("vec_id") % 10 === 8).select("vec_id", "embedding"),
      full.filter(col("vec_id") % 10 === 9).select("vec_id", "embedding"))
  }

  private def edgeSet(df: DataFrame): Set[(Long, Long, Long, Int)] =
    df.select(col("src"), col("dst"), col("w"), col("rk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet

  test("waves grow the graph to the rebuild state; re-delivery no-ops; stats invalidate") {
    val (d, wave1, wave2) = freshDataset()
    val acc = tmpDir("sgi-acc") + "/a"
    val full = graft.core.Tables.embeddings(spark, sf0001)

    StreamingGraphIngest.ingestBatch(spark, d, acc, wave1)
    val statsAfter1 = Graph.ensureGraphStats(spark, d)
    StreamingGraphIngest.ingestBatch(spark, d, acc, wave2)
    // graph after both waves == one-shot build over the full corpus
    val got = edgeSet(Graph.storedEdges(spark, d))
    val want = edgeSet(Graph.knnGraphEdgesOn(full))
    Dedup.releaseSlots()
    assert(got === want,
      s"streamed graph must equal rebuild (got ${got.size}, want ${want.size})")
    // analytics invalidated by the wave-2 append
    val statsAfter2 = Graph.ensureGraphStats(spark, d)
    assert(statsAfter2 !== statsAfter1,
      "graph append must invalidate the stats version")
    // re-delivery of both waves: ledger no-ops them — the non-idempotent
    // graph append must not run (version pointer unchanged)
    val verBefore = Graph.ensureKnnGraph(spark, d)
    StreamingGraphIngest.ingestBatch(spark, d, acc,
      wave1.unionByName(wave2))
    assert(Graph.ensureKnnGraph(spark, d) === verBefore,
      "re-delivered batch must not publish a new graph version")
    assert(edgeSet(Graph.storedEdges(spark, d)) === want)
    assert(spark.read.parquet(acc).count() ===
      wave1.count() + wave2.count(), "no duplicate ledger rows")
  }

  test("multi-batch ingest under the stats staleness policy pays at most one rebuild") {
    val (d, wave1, wave2) = freshDataset()
    val acc = tmpDir("sgi-lag-acc") + "/a"
    val w2a = wave2.filter(col("vec_id") % 20 === 9)
    val w2b = wave2.filter(col("vec_id") % 20 === 19)
    val stats0 = Graph.ensureGraphStats(spark, d) // strict build at gen 0
    for (w <- Seq(wave1, w2a, w2b)) {
      StreamingGraphIngest.ingestBatch(spark, d, acc, w)
      // a policied read between batches serves the stamped version —
      // the six-table rebuild is NOT paid per micro-batch
      assert(Graph.ensureGraphStats(spark, d, maxLagGen = 8) === stats0,
        "a read within the lag budget must serve the stamped stats version")
    }
    // convergence: one strict rebuild, then stable
    val stats1 = Graph.ensureGraphStats(spark, d)
    assert(stats1 !== stats0, "a strict read past the appends must rebuild")
    assert(Graph.ensureGraphStats(spark, d) === stats1,
      "a second strict read must serve the fresh version")
    // the rebuilt pagerank equals a live computation over the full corpus
    val full = graft.core.Tables.embeddings(spark, sf0001)
    val want = Graph.pageRankOn(full.select("vec_id"), Graph.knnGraphEdgesOn(full))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.releaseSlots()
    val got = spark.read.parquet(s"$stats1/pagerank")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want, "stored pagerank must equal live computation")
  }

  test("the readStream wiring end-to-end: file-source micro-batches land once, stats stay within the lag budget, strict read converges") {
    // the probe (tools/StalenessProbe) and the policy spec above drive
    // ingestBatch — the foreachBatch BODY; this case drives the actual
    // readStream → foreachBatch → statsMaxLag wiring of start(), so
    // the production path from files on disk to a lag-budgeted stats
    // artifact is covered end-to-end, not just its inner function
    val (d, wave1, wave2) = freshDataset()
    val root = tmpDir("sgi-stream")
    val src = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val stats0 = Graph.ensureGraphStats(spark, d) // strict build at gen 0
    wave1.write.mode("append").parquet(src)
    val q = StreamingGraphIngest.start(spark, d, src, s"$root/acc",
      s"$root/ckpt", wave1.schema, statsMaxLag = Some(8))
    try {
      q.processAllAvailable()
      // a second file arrives while the stream runs — a second
      // micro-batch through the same ledger gate
      wave2.write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    Dedup.releaseSlots()
    val gdir = Graph.ensureKnnGraph(spark, d)
    assert(Graph.graphGen(gdir) >= 2L,
      "both file-source micro-batches must have appended a generation")
    // within the lag budget the stream's own statsMaxLag calls served
    // the stamped version — no rebuild was paid mid-stream
    assert(Graph.ensureGraphStats(spark, d, maxLagGen = 8) === stats0,
      "stats within the lag budget must still serve the gen-0 version")
    // every streamed vector is in the graph exactly once: stored edges
    // equal a one-shot rebuild over the full corpus
    val full = graft.core.Tables.embeddings(spark, sf0001)
    val wantEdges = edgeSet(Graph.knnGraphEdgesOn(full))
    val gotEdges = edgeSet(Graph.storedEdges(spark, d))
    Dedup.releaseSlots()
    assert(gotEdges === wantEdges,
      "streamed graph must equal a one-shot rebuild over the union corpus")
    // a strict consumer at stream end pays exactly one catch-up rebuild
    val stats1 = Graph.ensureGraphStats(spark, d)
    assert(stats1 !== stats0)
    assert(Graph.ensureGraphStats(spark, d) === stats1)
  }

  test("ids the graph already holds are dropped by the membership gate, not re-appended") {
    val (d, wave1, _) = freshDataset()
    val acc = tmpDir("sgi-gate-acc") + "/a"
    // a replayed batch of BASE-table ids (present in the graph, never
    // in the ledger) must not reach the non-idempotent graph append
    val baseReplay = graft.core.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").limit(5)
    Graph.ensureKnnGraph(spark, d)
    val verBefore = Graph.ensureKnnGraph(spark, d)
    StreamingGraphIngest.ingestBatch(spark, d, acc, baseReplay)
    assert(Graph.ensureKnnGraph(spark, d) === verBefore,
      "a base-id replay must not publish a new graph version")
    assert(spark.read.parquet(s"$verBefore/buckets")
      .groupBy("vec_id").count().filter(col("count") > Dedup.SrpTables).isEmpty,
      "no vec_id may hold duplicate routing rows")
    // a MIXED batch: the base-id rows are dropped, the new rows land —
    // and the dropped ids are not ledgered (ledgering a graph-member
    // id would duplicate it in the corpus hydration frame)
    StreamingGraphIngest.ingestBatch(spark, d, acc,
      baseReplay.unionByName(wave1))
    assert(spark.read.parquet(acc).count() === wave1.count(),
      "only the genuinely-new rows may enter the ledger")
    val full = graft.core.Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 10 < 9)
    val got = edgeSet(Graph.storedEdges(spark, d))
    val want = edgeSet(Graph.knnGraphEdgesOn(full))
    Dedup.releaseSlots()
    assert(got === want, "the mixed batch's new rows must land exactly once")
  }

  test("ledger-appended-but-graph-lost crash window heals via the routing-table reconcile") {
    val (d, wave1, _) = freshDataset()
    val acc = tmpDir("sgi-heal-acc") + "/a"
    val full = graft.core.Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 10 < 9)
    // simulate the crash: the wave reaches the LEDGER but its graph
    // append was lost (written directly, bypassing ingestBatch)
    Graph.ensureKnnGraph(spark, d)
    wave1.write.mode("append").parquet(acc)
    // next batch (empty) triggers the reconcile alone
    StreamingGraphIngest.ingestBatch(spark, d, acc, wave1.limit(0))
    val got = edgeSet(Graph.storedEdges(spark, d))
    val want = edgeSet(Graph.knnGraphEdgesOn(full))
    Dedup.releaseSlots()
    assert(got === want, "reconcile must land the ledger-only vectors")
  }
}
