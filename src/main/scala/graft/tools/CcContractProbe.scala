package graft.tools
import graft.core.Tables
import graft.operators.{Corpus, Graph}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** Scratch probe: the local-contraction prelude's effect on the
  * forced-distributed star CC, in both regimes —
  *
  *  1. the core pair graph of the sf0.1 corpus replicated x10 (the
  *     CcPathProbe fixture; ~1.9M edges, E/V ≈ 3:
  *     sparse, contraction expected to stall after one level); and
  *  2. a duplication-heavy family graph (families of 1000, degree 50,
  *     E/V ≈ 44: the boilerplate-crawl shape that actually blows the
  *     driver budget), measured over the DEFAULT budget so the
  *     re-probe/re-admission path is what runs.
  */
object CcContractProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", 16)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wh = java.nio.file.Files.createTempDirectory("ccc-wh").toString
    sys.props("graft.warehouse") = wh
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(s"$tag: ${(System.nanoTime() - t0) / 1e9}s"); r }
    def run(tag: String, pairs: org.apache.spark.sql.DataFrame,
        a: String, b: String, budget: String, contract: String): Unit = {
      spark.conf.set("graft.graph.driverEdgeBudget", budget)
      spark.conf.set("graft.graph.ccLocalContract", contract)
      try time(s"$tag budget=$budget contract=$contract") {
        Corpus.connectedComponentsStar(pairs, a, b).count()
      } finally {
        spark.conf.unset("graft.graph.driverEdgeBudget")
        spark.conf.unset("graft.graph.ccLocalContract")
      }
      println(s"  mode=${Corpus.lastCcMode} levels=${Corpus.lastCcContractLevels}")
    }

    // regime 1: the x10 real core graph
    val xrep = 10
    val full = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .crossJoin(spark.range(xrep.toLong).select(col("id").as("__rep")))
      .withColumn("vec_id", col("vec_id") * xrep + col("__rep"))
      .withColumn("embedding",
        expr("transform(embedding, (x, i) -> CASE WHEN __rep > 0 AND i = CAST(__rep % 64 AS INT) THEN -x ELSE x END)"))
      .drop("__rep")
    val d = java.nio.file.Files.createTempDirectory("ccc-d").toString
    full.write.parquet(s"$d/embeddings.parquet")
    val g = Graph.ensureKnnGraph(spark, d)
    val core = spark.read.parquet(s"$g/pairs")
      .filter(col("w") >= Graph.CoreWmin).select("id_a", "id_b").cache()
    println("core_edges=" + core.count())
    for (c <- Seq("false", "true"); r <- 1 to 2)
      run(s"real_x10#$r", core, "id_a", "id_b", "-1", c)

    // regime 2: dense family graph, default budget (2M) — 200k nodes,
    // ~8.8M canonical distinct edges
    val fam = spark.range(200000L)
      .select(col("id"), (col("id") - col("id") % 1000).as("f"))
      .crossJoin(spark.range(1, 51).select(col("id").as("k")))
      .select(col("id").as("a"), (col("f") + (col("id") * col("k")) % 1000).as("b"))
      .filter(col("a") =!= col("b"))
      .cache()
    println("fam_edges_raw=" + fam.count())
    for (c <- Seq("false", "true"); r <- 1 to 2)
      run(s"family#$r", fam, "a", "b", "2000000", c)
    spark.stop()
  }
}
