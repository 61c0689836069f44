package graft

import graft.api.GraftDb
import org.apache.spark.sql.functions._

/** The user-facing facade: a reference user's call sequence — create
  * database, bulk insert, Mango find, count, upsert (replace +
  * insert), findByIds, dump/restore — end to end on real parquet.
  */
class GraftDbSpec extends SparkSuite {
  import spark.implicits._

  test("reference-shaped lifecycle: insert, find, count, upsert, dump") {
    val db = GraftDb(spark, tmpDir("graftdb"))
    val items = db.collection("items")

    items.bulkInsert(Seq(
      ("1", "Title: Berlin Content: capital of germany", 10),
      ("2", "Title: Paris Content: capital of france", 20),
      ("3", "Title: Rome Content: capital of italy", 30)
    ).toDF("id", "body", "score"))

    assert(items.count() === 3)
    assert(items.count(Map("score" -> Map("$gte" -> 20))) === 2)

    val found = items.find(
      selector = Map("body" -> Map("$regex" -> "germany")),
      sort = Seq("score" -> "asc"), primaryKey = "id")
    assert(found.select("id").as[String].collect().toSeq === Seq("1"))

    // upsert: replace id=2, insert id=4 — last-writer-wins
    items.upsert(Seq(
      ("2", "Title: Paris Content: updated", 25),
      ("4", "Title: Madrid Content: capital of spain", 40)
    ).toDF("id", "body", "score"), "id")
    assert(items.count() === 4)
    assert(items.findByIds("id", Seq("2")).select("score").head().getInt(0) === 25)

    // upsert is idempotent (re-delivery changes nothing)
    items.upsert(Seq(("4", "Title: Madrid Content: capital of spain", 40))
      .toDF("id", "body", "score"), "id")
    assert(items.count() === 4)

    // dump / restore round-trip into a second collection
    val dump = tmpDir("dump") + "/items.json"
    items.exportJson(dump)
    val restored = GraftDb(spark, tmpDir("graftdb2")).collection("items")
    restored.importJson(dump)
    assert(restored.count() === 4)
    assert(restored.toDf.select("id").except(items.toDf.select("id")).count() === 0)
  }

  test("remove(selector): matching docs go, null-predicate docs stay, idempotent") {
    import spark.implicits._
    val db = GraftDb(spark, tmpDir("graftdb-rm"))
    val c = db.collection("items")
    c.bulkInsert(Seq(
      ("1", Some(10), "keep"), ("2", Some(99), "drop"),
      ("3", None: Option[Int], "null-score"), ("4", Some(99), "drop")
    ).toDF("id", "score", "tag"))

    val removed = c.remove(Map("score" -> Map("$gte" -> 50)))
    assert(removed === 2L)
    val left = c.toDf.select("id").collect().map(_.getString(0)).toSet
    // doc 3's score is null -> predicate NULL -> not a match -> kept
    assert(left === Set("1", "3"))

    // removing again matches nothing and rewrites nothing
    assert(c.remove(Map("score" -> Map("$gte" -> 50))) === 0L)
    assert(c.count() === 2L)
  }

  test("vector search facade: the reference's three strategies, one-to-one") {
    import org.apache.spark.sql.functions._
    val db = GraftDb(spark, tmpDir("graftdb-vec"))
    val vectors = db.collection("vectors")
    vectors.bulkInsert(spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding")))

    val q = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
    val pivots = graft.index.IndexBuild.pivotsFromIds(
      spark.read.parquet(s"$sf0001/embeddings.parquet"), "vec_id", Seq(0, 1, 2, 3, 4))

    val full = vectors.vectorSearchFullScan(q, k = 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(full.size === 10 && full.head === 7L, "query's own vector is its nearest")

    val range = vectors.vectorSearchIndexRange(q, pivots, eps = 0.5, k = 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(range.size === 10)

    val simil = vectors.vectorSearchIndexSimilarity(q, pivots, perSide = 100, k = 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(simil.size === 10)
    // the neighborhood strategy with generous perSide recovers the exact top-k head
    assert(simil.head === 7L)
  }

  test("combined selector + vector query: PRE-filter semantics on all strategies") {
    import org.apache.spark.sql.functions._
    val db = GraftDb(spark, tmpDir("graftdb-vecsel"))
    val vectors = db.collection("vectors")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    vectors.bulkInsert(emb.select(col("vec_id").as("id"), col("embedding"), col("label")))

    val q = emb.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
    val sel = Map[String, Any]("label" -> Map("$in" -> Seq(3, 7)))

    val got = vectors.vectorSearchFullScan(q, k = 10, selector = sel)
    assert(got.count() === 10)
    // every hit satisfies the selector…
    assert(got.filter(!col("label").isin(3, 7)).count() === 0)
    // …and equals filter-then-search (PRE-filter, not post-filtered top-k)
    val exp = graft.operators.Knn.fullScanKnnOn(
      emb.filter(col("label").isin(3, 7)).select(col("vec_id").as("id"),
        col("embedding"), col("label")),
      "id", "embedding", typedlit(q), 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got.select("id").collect().map(_.getLong(0)).toSeq === exp)

    // range/similarity project to (id, dist) — check membership by id
    val allowed = emb.filter(col("label").isin(3, 7))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pivots = graft.index.IndexBuild.pivotsFromIds(emb, "vec_id", Seq(0, 1, 2, 3, 4))
    val range = vectors.vectorSearchIndexRange(q, pivots, eps = 0.5, k = 10, selector = sel)
      .select("id").collect().map(_.getLong(0))
    assert(range.nonEmpty && range.forall(allowed))
    val simil = vectors.vectorSearchIndexSimilarity(q, pivots, perSide = 100, k = 10,
      selector = sel).select("id").collect().map(_.getLong(0))
    assert(simil.nonEmpty && simil.forall(allowed))
  }

  test("a selector matching no document: every vector strategy returns an empty result") {
    import org.apache.spark.sql.functions._
    val db = GraftDb(spark, tmpDir("graftdb-vecnone"))
    val vectors = db.collection("vectors")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    vectors.bulkInsert(emb.select(col("vec_id").as("id"), col("embedding"), col("label")))
    val q = emb.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0)
    val pivots = graft.index.IndexBuild.pivotsFromIds(emb, "vec_id", Seq(0, 1, 2, 3, 4))
    val none = Map[String, Any]("label" -> Map("$in" -> Seq(-1)))
    assert(vectors.vectorSearchFullScan(q, k = 10, selector = none).count() === 0)
    assert(vectors.vectorSearchIndexRange(q, pivots, eps = 0.5, k = 10,
      selector = none).count() === 0)
    assert(vectors.vectorSearchIndexSimilarity(q, pivots, perSide = 100, k = 10,
      selector = none).count() === 0)
  }
}
