package perfbench

import graft.operators._
import scala.collection.mutable

/** The registered operator surface: a fixed set of `SparkEntry.queries`
  * covering ten of the twelve operator modules, then one
  * `CorpusPipeline.runTimed`.
  */
object Suite {
  /** Each module's own `queries` map, so a query's time is charged to
    * the module that registered it. */
  val Modules: Seq[(String, Map[String, Relational.Q])] = Seq(
    "relational" -> Relational.queries, "knn" -> Knn.queries,
    "text" -> TextAnalysis.queries, "dedup" -> Dedup.queries,
    "temporal" -> Temporal.queries, "advanced" -> Advanced.queries,
    "indexed" -> Indexed.queries, "corpus" -> Corpus.queries,
    "layout" -> Layout.queries, "hybrid" -> Hybrid.queries)

  /** The queries a round runs: one per module, chosen to span the
    * operator families — outer joins with aggregation, hydration, text
    * quality, SimHash, sessionizing, cubes, the pivot index, TF-IDF,
    * z-order and BM25. The corpus pipeline adds MinHash near-dup
    * clustering and decontamination. All 149 registered queries take
    * about 160 s cold at this size, which no run can afford.
    *
    * Two modules are left out. Every graph query first builds the
    * kNN-graph artifact (about 11 s); graph serving runs on the vector
    * workload instead. The bucketed module's one query, like
    * q_join_multi_star, rounds a floating-point revenue sum to cents, and
    * on some seeds Spark and DuckDB round a half-cent sum apart. */
  val Picked: Seq[String] = Seq(
    "q_join_left_outer", "q_j1_hydrate", "q_t10_quality_filter", "q_d3_dedup_simhash",
    "q_sessionize", "q_agg_cube", "q_v9_indexed_range", "q_t11_tfidf",
    "q_z1_zorder", "q_h1_bm25_topk")

  def run(ctx: Ctx, ops: Ops, out: Metrics): Unit = {
    val spark = ctx.spark
    val d = ctx.data
    graft.core.OracleDataset.dir = d
    val module = (for ((m, qs) <- Modules; n <- qs.keys) yield n -> m).toMap
    val fns = graft.SparkEntry.queries

    // set-up: in an empty warehouse, build every stored artifact the
    // queries read and keep each query's output for the oracle compare
    val t0 = System.nanoTime()
    ctx.tracer.span("setup") {
      Picked.foreach { name =>
        ops.run(s"module.${module(name)}") {
          fns(name)(spark, d).coalesce(1).write.parquet(s"${ctx.root}/out/$name")
        } { _ => Nil }
        graft.PerfbenchAccess.releaseSlots()
      }
    }
    out.e2e("setup_s") = (System.nanoTime() - t0) / 1e9
    Main.log("set-up done")
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => Picked.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${ctx.root}/oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    out.oracleOut = s"${ctx.root}/out"
    out.queryKind = Picked.map(n => n -> s"module.${module(n)}").toMap

    val passS = mutable.ArrayBuffer.empty[Double]
    val pipeS = mutable.ArrayBuffer.empty[Double]
    val stageS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val pipeOut = s"${ctx.root}/pipeline"
    ops.timing = true
    ctx.tracer.span("timed") {
      val t0 = System.nanoTime()
      while (passS.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
        val p0 = ops.timedS
        Picked.foreach { name =>
          ops.run(s"module.${module(name)}") {
            fns(name)(spark, d).write.format("noop").mode("overwrite").save()
          } { _ => Nil }
          graft.PerfbenchAccess.releaseSlots()
        }
        passS += ops.timedS - p0
        ops.run("pipeline") {
          graft.app.CorpusPipeline.runTimed(spark, d, pipeOut)
        } { case (rep, stages) =>
          stages.foreach { case (st, s) => stageS.getOrElseUpdate(st, mutable.ArrayBuffer.empty) += s }
          ops.digest("pipeline", rep.toString)
          pipelineProblems(ctx, rep, pipeOut)
        }.foreach { case (_, ms) => pipeS += ms / 1e3 }
        System.gc()
      }
    }
    ops.timing = false
    Main.log("timed region done")
    out.rounds = passS.size
    out.e2e("round_s") = Stats.median(passS.zip(pipeS).map { case (a, b) => a + b }.toSeq)
    out.liveHeap()
    out.layer("suite_s") = Stats.median(passS.toSeq)
    out.layer("pipeline_s") = Stats.median(pipeS.toSeq)
    stageS.foreach { case (st, xs) => out.layer(s"pipeline.${st}_s") = Stats.median(xs.toSeq) }
  }

  /** Retention never rises from stage to stage, no held-out benchmark
    * doc reaches the output, and no (source, lang) cell exceeds the
    * quota. */
  def pipelineProblems(ctx: Ctx, rep: graft.app.CorpusPipeline.Report, outPath: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    val p = mutable.ArrayBuffer.empty[String]
    val chain = Seq(rep.input, rep.afterQuality, rep.afterExact, rep.afterNearDup,
      rep.afterDecontam, rep.afterQuota)
    if (chain.zip(chain.drop(1)).exists { case (a, b) => b > a }) p += s"retention rises: $chain"
    val outDf = ctx.spark.read.parquet(outPath)
    val n = outDf.count()
    if (n != rep.afterQuota) p += s"$n docs written, report says ${rep.afterQuota}"
    val bench = outDf.filter(col("doc_id") < Corpus.BenchIdMax).count()
    if (bench > 0) p += s"$bench held-out benchmark docs in the output"
    val over = outDf.groupBy("source", "lang").count()
      .filter(col("count") > graft.app.CorpusPipeline.PipelineQuota).count()
    if (over > 0) p += s"$over (source, lang) cells over the quota"
    p.toSeq
  }
}
