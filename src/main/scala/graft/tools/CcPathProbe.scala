package graft.tools
import graft.core.{QueryProfile, Tables}
import graft.operators.{Corpus, Dedup, Graph}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** Scratch probe: the k-core peel and star CC over the core pair
  * graph (w ≥ CoreWmin) of the sf0.1 corpus replicated ×10 (each
  * replica's embeddings perturbed by one sign flip, so replicas land
  * in distinct buckets), timed on the driver and distributed paths.
  */
object CcPathProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", 16)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wh = java.nio.file.Files.createTempDirectory("ccp-wh").toString
    sys.props("graft.warehouse") = wh
    val xrep = 10
    val full = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .crossJoin(spark.range(xrep.toLong).select(col("id").as("__rep")))
      .withColumn("vec_id", col("vec_id") * xrep + col("__rep"))
      .withColumn("embedding",
        expr("transform(embedding, (x, i) -> CASE WHEN __rep > 0 AND i = CAST(__rep % 64 AS INT) THEN -x ELSE x END)"))
      .drop("__rep")
    val d = java.nio.file.Files.createTempDirectory("ccp-d").toString
    full.write.parquet(s"$d/embeddings.parquet")
    val g = Graph.ensureKnnGraph(spark, d)
    val pairs = spark.read.parquet(s"$g/pairs").select("id_a", "id_b", "w")
    val core = pairs.filter(col("w") >= Graph.CoreWmin).select("id_a", "id_b").cache()
    println("core_edges=" + core.count())
    // wall and the serving path's note (peel_mode / cc_mode)
    def time(tag: String)(f: => Long): Unit = {
      val (_, p) = QueryProfile.run(spark)(f)
      println(s"$tag: ${p.wallS}s ${p.notes.filter(_._1.endsWith("_mode")).mkString(" ")}")
    }
    time("kcore") { Graph.kcoreOn(
      core.select(col("id_a").as("src"), col("id_b").as("dst"))).count() }
    time("ccstar1") { Corpus.connectedComponentsStar(core, "id_a", "id_b").count() }
    time("ccstar2") { Corpus.connectedComponentsStar(core, "id_a", "id_b").count() }
    // raised budget: does the driver path still win (and stay safe)
    // at ~1.9M edges on the 8g driver convention?
    spark.conf.set("graft.graph.driverEdgeBudget", "4000000")
    time("ccstar_drv") { Corpus.connectedComponentsStar(core, "id_a", "id_b").count() }
    time("kcore_drv") { Graph.kcoreOn(
      core.select(col("id_a").as("src"), col("id_b").as("dst"))).count() }
    val rt = Runtime.getRuntime
    println("heap_used_mb=" + (rt.totalMemory - rt.freeMemory) / 1048576)
    spark.stop()
  }
}
