package graft

import graft.core.ArtifactStore
import graft.operators.{Dedup, Graph, Hybrid, Indexed}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Failure injection over every appended artifact kind: a delta whose
  * evaluation throws mid-write must leave `CURRENT` and the served
  * content exactly as they were, and the next good append must land
  * and equal a one-shot build of the union corpus.
  */
class ArtifactFailureSpec extends SparkSuite {

  /** One kind's fixture: its artifact dir, the content it serves, its
    * append, a good delta (keyed by `idCol`) and the one-shot build's
    * content over base ∪ delta.
    */
  private case class Fixture(adir: String, served: () => Set[Seq[Any]],
      append: DataFrame => Unit, delta: DataFrame, idCol: String,
      oneShot: () => Set[Seq[Any]])

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def edgeRows(v: String, cols: String*): Set[Seq[Any]] =
    rows(spark.read.parquet(s"$v/edges").select(cols.map(col): _*))

  /** The artifact dir holding a version dir. */
  private def artifactOf(version: String): String = new java.io.File(version).getParent

  /** Embeddings split by vec_id: (dataset dir, held-out tenth). */
  private def embeddingSplit(prefix: String): (String, DataFrame) = {
    val d = tmpDir(prefix)
    val full = graft.core.Tables.embeddings(spark, sf0001)
    full.filter(col("vec_id") % 10 =!= 0).write.parquet(s"$d/embeddings.parquet")
    (d, full.filter(col("vec_id") % 10 === 0))
  }

  private val kinds: Seq[(String, () => Fixture)] = Seq(
    "kNN graph" -> { () =>
      val (d, heldOut) = embeddingSplit("fail-knn")
      val base = graft.core.Tables.embeddings(spark, d)
      val adir = artifactOf(Graph.ensureKnnGraph(spark, d))
      def content(v: String) = edgeRows(v, "src", "dst", "w", "rk") ++
        rows(spark.read.parquet(s"$v/pairs").select("id_a", "id_b", "w"))
      Fixture(adir,
        () => content(Graph.ensureKnnGraph(spark, d)),
        Graph.appendKnnGraph(spark, d, _, base),
        heldOut.select("vec_id", "embedding"), "vec_id",
        () => content(Graph.ensureKnnGraph(spark, sf0001)))
    },
    "stratum graph" -> { () =>
      val (d, heldOut) = embeddingSplit("fail-strat")
      val base = graft.core.Tables.embeddings(spark, d)
      val adir = artifactOf(Graph.ensureStratumGraph(spark, d))
      def content(v: String) = edgeRows(v, "src", "dst", "w", "rk", "stratum") ++
        rows(spark.read.parquet(s"$v/buckets").select("vec_id", "tbl", "bkt", "stratum"))
      Fixture(adir,
        () => content(Graph.ensureStratumGraph(spark, d)),
        Graph.appendStratumGraph(spark, d, _, base),
        heldOut.select(col("vec_id"), col("embedding"), col(Graph.StratumCol)), "vec_id",
        () => content(Graph.ensureStratumGraph(spark, sf0001)))
    },
    "lex index" -> { () =>
      val d = tmpDir("fail-lex")
      val full = spark.read.parquet(s"$sf0001/documents.parquet")
      full.filter(col("doc_id") < 300).write.parquet(s"$d/documents.parquet")
      val adir = artifactOf(Hybrid.ensureLexIndex(spark, d))
      def content(v: String) =
        rows(spark.read.parquet(s"$v/postings").select("term", "doc_id", "dl", "tf")) ++
          rows(spark.read.parquet(s"$v/meta"))
      Fixture(adir,
        () => content(Hybrid.ensureLexIndex(spark, d)),
        Hybrid.appendLexIndex(spark, d, _),
        full.filter(col("doc_id") >= 300), "doc_id",
        () => content(Hybrid.ensureLexIndex(spark, sf0001)))
    },
    "sig index" -> { () =>
      // the index's corpus split: a build indexes only these docs
      val full = spark.read.parquet(s"$sf0001/documents.parquet")
        .filter(Dedup.baseHash(col("doc_id").cast("string")) % 10 < 8)
      val d = tmpDir("fail-sig")
      full.filter(col("doc_id") < 300).write.parquet(s"$d/documents.parquet")
      val oneShot = tmpDir("fail-sig-full")
      full.write.parquet(s"$oneShot/documents.parquet")
      val adir = artifactOf(Dedup.ensureSigIndex(spark, d))
      def content(v: String) =
        rows(spark.read.parquet(s"$v/bands").select("doc_id", "band", "bh")) ++
          rows(spark.read.parquet(s"$v/bands_capped")
            .select("doc_id", "band", "bh", "bsz", "bmin")) ++
          rows(spark.read.parquet(s"$v/docs"))
      Fixture(adir,
        () => content(Dedup.ensureSigIndex(spark, d)),
        Dedup.appendSigIndex(spark, d, _),
        full.filter(col("doc_id") >= 300), "doc_id",
        () => content(Dedup.ensureSigIndex(spark, oneShot)))
    },
  ) ++ Indexed.CodeTables.map { t =>
    // the assignment table's row keeps the name it had before the
    // other three code tables joined it
    val label = if (t eq Indexed.Assign) "IVF assignments" else s"${t.name} code table"
    label -> { () =>
      val d = tmpDir(s"fail-${t.name}")
      val full = spark.read.parquet(s"$sf0001/embeddings.parquet")
      full.filter(col("vec_id") < 400).write.parquet(s"$d/embeddings.parquet")
      // the frozen structures, learned from the base corpus
      val encode = t.encode(spark, d)
      Fixture(artifactOf(Indexed.ensureCodes(spark, d, t)),
        () => rows(spark.read.parquet(t.path(d))),
        Indexed.appendCodes(spark, d, t, _),
        full.filter(col("vec_id") >= 400), "vec_id",
        // the one-shot encode of the union with the frozen structures
        () => rows(encode(full)))
    }
  }

  for ((kind, fixture) <- kinds)
    test(s"$kind: a delta that throws mid-write is invisible; the next good append equals a one-shot build") {
      val f = fixture()
      val cur0 = ArtifactStore.current(f.adir)
      val served0 = f.served()
      assert(cur0.isDefined && served0.nonEmpty)
      val bad = f.delta.agg(max(f.idCol)).head().getLong(0)
      val boom = udf { (id: Long) =>
        if (id == bad) throw new IllegalStateException(s"injected failure at $id")
        id
      }
      val e = intercept[Exception](f.append(f.delta.withColumn(f.idCol, boom(col(f.idCol)))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected failure")),
        s"the append must fail on the injected row, not elsewhere: $e")
      Dedup.releaseSlots()
      assert(ArtifactStore.current(f.adir) === cur0, "a failed append must not move CURRENT")
      assert(f.served() === served0, "a failed append must not change the served content")
      f.append(f.delta)
      Dedup.releaseSlots()
      assert(ArtifactStore.current(f.adir) !== cur0, "the good append must publish")
      val (got, want) = (f.served(), f.oneShot())
      Dedup.releaseSlots()
      assert(got === want,
        s"after a failed then a good append the $kind must equal a one-shot build " +
          s"(missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)})")
    }
}
