package graft.streaming

import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming VECTOR ingestion that maintains the stored kNN-graph
  * artifact — the vector-side sibling of [[StreamingNearDup]] (text →
  * signature index) and the streaming ANN code-table refresh: each
  * micro-batch of (vec_id, embedding) rows is
  *
  *  1. id-anti-joined against BOTH the ACCEPTED STORE (the S4
  *     idempotence ledger — a re-delivered batch is a no-op) and the
  *     graph's own routing-table membership (a base-table id replayed
  *     upstream, or an id collision, must not reach the
  *     non-idempotent graph append);
  *  2. landed in the ledger (decision staged durably first — the
  *     [[StreamingNearDup]] staging discipline);
  *  3. delta-appended into the graph via [[Graph.appendKnnGraph]] —
  *     candidates from the stored routing table, affected-node-only
  *     re-rank — so the next analytics rebuild
  *     ([[Graph.ensureGraphStats]], invalidated by the append's
  *     version flip) sees the new vectors without a corpus rebuild.
  *
  * Effect order is LEDGER FIRST, unlike the signature index: the band
  * index's append is a pure row-insert (re-appending the same doc's
  * bands is redundant but harmless), while [[Graph.appendKnnGraph]] is
  * NOT idempotent — a re-run would duplicate routing rows and pair
  * rows and double-count bucket occupancy. The ledger is therefore
  * the gate: a vector enters the graph only after it is durably
  * accepted, and the crash window (ledger append succeeded, graph
  * append lost) is closed by a per-batch RECONCILE — ledger ids
  * missing from the graph's own routing table (one distinct
  * projection) are re-appended before the new batch lands. The
  * routing table doubles as the graph's doc-id manifest, so the
  * missing-set lookup is exactly the membership scan the sig-index
  * reconcile wishes it had (`StreamingNearDup` object doc).
  */
object StreamingGraphIngest {

  /** Wire a file-source stream of embedding parquet into
    * [[ingestBatch]]. The caller owns trigger/termination.
    *
    * `statsMaxLag`: when set, each batch also keeps the derived
    * analytics artifact within that staleness budget — every graph
    * append bumps the content generation, and
    * [[Graph.ensureGraphStats]] with a lag budget recomputes the five
    * stats tables, in full, only once the live graph is more than
    * `statsMaxLag` generations ahead of the stamped version. This
    * amortizes that recompute across N micro-batches instead of
    * paying it on the first analytic read after EVERY batch (the
    * rebuild-per-consumer thrash the stored graph itself eliminated
    * one layer down). None (the default) leaves stats maintenance to
    * the consumers' own freshness policy.
    */
  def start(spark: SparkSession, datasetDir: String, srcDir: String,
      acceptedDir: String, checkpointDir: String,
      schema: StructType, statsMaxLag: Option[Long] = None): StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(spark, datasetDir, acceptedDir, batch)
        statsMaxLag.foreach(lag => Graph.ensureGraphStats(spark, datasetDir, lag))
      }
      .start()

  /** Corpus frame the graph append hydrates old-side candidates from:
    * the base embeddings table plus everything accepted so far (the
    * [[StreamingNearDup]] corpusText convention).
    */
  private def corpusOf(s: SparkSession, d: String,
      ledger: Option[DataFrame]): DataFrame = {
    val base = graft.core.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    ledger match {
      case Some(acc) => base.unionByName(acc.select("vec_id", "embedding"))
      case None => base
    }
  }

  /** One ingest step (also the crash-recovery unit — the spec drives
    * it directly to simulate failure windows).
    */
  def ingestBatch(s: SparkSession, d: String, acceptedDir: String,
      batchRaw: DataFrame): Unit = {
    // reclaim any decision-staging dir a crashed previous run stranded
    // (single-ingester contract: nothing live can own one at batch start)
    graft.core.Util.sweepStagingDirs(acceptedDir)
    val ledger = graft.core.Util.readParquetIfExists(s, acceptedDir)
    // reconcile FIRST: heal accepted vectors whose graph append was
    // lost to a crash, so this batch's candidates see them. The
    // routing table IS the graph's membership manifest.
    val graphDir = Graph.ensureKnnGraph(s, d)
    ledger.foreach { acc =>
      val inGraph = s.read.parquet(s"$graphDir/buckets")
        .select("vec_id").distinct()
      val missing = acc.select("vec_id", "embedding")
        .join(inGraph, Seq("vec_id"), "left_anti")
      if (!missing.isEmpty)
        Graph.appendKnnGraph(s, d, missing,
          corpusOf(s, d, ledger).join(missing, Seq("vec_id"), "left_anti"))
    }
    // S4 idempotence, TWO gates. The ledger gate alone is not enough:
    // a batch id already present in the GRAPH but not the ledger — a
    // base-table id replayed upstream, or an id collision — would pass
    // the ledger anti-join and run the non-idempotent
    // [[Graph.appendKnnGraph]] on an id the graph already holds
    // (duplicate routing rows, double-counted bucket occupancy,
    // duplicate candidate rows corrupting the top-G re-rank). So the
    // batch is also anti-joined against the graph's own membership
    // manifest — the routing table, re-resolved AFTER the reconcile
    // above so a just-healed id counts as present. A graph-member id
    // is dropped entirely (not ledgered either: ledgering it would
    // duplicate its vector in the corpus hydration frame and re-arm
    // the reconcile into appending it twice).
    val inGraph = s.read
      .parquet(s"${Graph.ensureKnnGraph(s, d)}/buckets")
      .select("vec_id").distinct()
    val fresh = (ledger match {
      case Some(acc) =>
        batchRaw.join(acc.select("vec_id"), Seq("vec_id"), "left_anti")
      case None => batchRaw
    }).join(inGraph, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding")).persist()
    try {
      if (fresh.isEmpty) return
      // durable decision staging BEFORE the ledger append (the
      // self-read-write discipline), then LEDGER before GRAPH: the
      // graph append is not idempotent, so acceptance must gate it
      val staging = acceptedDir + ".staging-" + java.util.UUID.randomUUID()
      try {
        fresh.write.mode(SaveMode.Overwrite).parquet(staging)
        val frozen = s.read.parquet(staging)
        frozen.write.mode(SaveMode.Append).parquet(acceptedDir)
        // corpus for the graph append: re-read the ledger AFTER the
        // append (it is stable for the rest of the batch) and exclude
        // the batch ids — NOT the pre-append frame, whose lineage
        // reads the just-mutated directory and could double-count the
        // batch on a cache-loss recompute (the self-read-write
        // hazard; a duplicate id in the hydration frame would
        // duplicate candidate rows and corrupt the top-G re-rank)
        val corpus = corpusOf(s, d,
          graft.core.Util.readParquetIfExists(s, acceptedDir))
          .join(frozen.select("vec_id"), Seq("vec_id"), "left_anti")
        Graph.appendKnnGraph(s, d, frozen, corpus)
      } finally graft.core.Util.deleteRecursively(staging)
    } finally {
      fresh.unpersist()
      graft.operators.Dedup.releaseSlots()
    }
  }
}
