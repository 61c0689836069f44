package graft

import graft.core.QueryProfile
import graft.operators.{Corpus, Graph}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The query-scoped profile: spans, job attribution across the threads
  * a query starts, isolation between concurrent profiles on one
  * SparkContext, and listener cleanup.
  */
class QueryProfileSpec extends SparkSuite {

  test("a span outside run returns its body's value and records nothing") {
    assert(QueryProfile.span(spark, "outside")(spark.range(10).count()) === 10L)
    QueryProfile.note(spark, "outside", "x")
    val (n, p) = QueryProfile.run(spark)(spark.range(5).count())
    assert(n === 5L)
    assert(p.spans.isEmpty && p.notes.isEmpty, s"$p")
    assert(p.jobs.nonEmpty && p.jobs.forall(_.span == ""),
      s"a span opened outside the profile leaked into it: ${p.jobs}")
  }

  test("a job submitted from a thread that the body starts is attributed to the profile") {
    val (n, p) = QueryProfile.run(spark) {
      var got = 0L
      val t = new Thread(() => got = QueryProfile.span(spark, "child")(spark.range(1000).count()))
      t.start(); t.join()
      got
    }
    assert(n === 1000L)
    assert(p.spans.get("child").exists(s => s.calls == 1 && s.jobs >= 1), s"${p.spans}")
    assert(p.jobs.exists(j => j.span == "child" && j.tasks > 0 && j.endMs >= j.submitMs))
  }

  test("two threads profiling a g8 walk and a CC call at the same time see only their own jobs and notes") {
    val d = sf0001
    Graph.ensureKnnGraph(spark, d)
    // the second query's session forces the distributed CC loop, so the
    // two profiles' notes differ
    val other = spark.newSession()
    other.conf.set("graft.graph.driverEdgeBudget", "-1")
    def body(s: SparkSession): Long = {
      SparkEntry.queries("q_g8_graph_ann_batch")(s, d).collect()
      val ring = s.range(40).select(col("id").as("a"), ((col("id") + 1) % 40).as("b"))
      Corpus.connectedComponentsStar(ring, "a", "b").count()
    }
    def profiled(s: SparkSession) = QueryProfile.run(s)(body(s))._2
    // warm: a first read of each table infers its schema in a job
    Seq(spark, other).foreach(body)
    val serial = Seq(profiled(spark), profiled(other))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val concurrent = try {
      Seq(spark, other).map(s => pool.submit(() => profiled(s))).map(_.get())
    } finally { pool.shutdown(); () }
    assert(concurrent.map(_.notes.get("cc_mode")) === Seq(Some("driver"), Some("distributed")))
    for ((c, s) <- concurrent.zip(serial)) {
      assert(c.spans("seed").calls === 1 && c.spans("final").calls === 1,
        s"spans from the other thread's walk: ${c.spans}")
      // (which stages a job lists depends on which shuffles another
      // job finished first, so only the job count is compared)
      assert(c.jobs.size === s.jobs.size,
        s"${c.jobs.size} jobs concurrently, ${s.jobs.size} alone")
    }
    assert(concurrent(0).jobs.map(_.id).intersect(concurrent(1).jobs.map(_.id)).isEmpty)
  }

  test("the listener is detached after the body throws") {
    def listeners = org.apache.spark.ListenerCount(spark.sparkContext)
    val before = listeners
    intercept[IllegalStateException] {
      QueryProfile.run(spark) {
        spark.range(10).count()
        throw new IllegalStateException("query failed")
      }
    }
    assert(listeners === before)
    val (_, p) = QueryProfile.run(spark)(QueryProfile.span(spark, "after")(1))
    assert(p.spans.keySet === Set("after"), "the failed run left its span or profile open")
  }
}
