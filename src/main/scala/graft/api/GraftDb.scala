package graft.api

import graft.operators.Mango
import graft.core.Util
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** User-facing facade shaped like the reference's API surface
  * (`RxDatabase` → `RxCollection`, `/root/reference/src/database.ts`),
  * so a reference user maps their calls one-to-one:
  *
  * | reference                        | here                          |
  * |----------------------------------|-------------------------------|
  * | `createRxDatabase({name})`       | `GraftDb(spark, warehouseDir)`|
  * | `db.addCollections(...)`         | `db.collection("items")`      |
  * | `collection.bulkInsert(docs)`    | `c.bulkInsert(df)`            |
  * | `collection.upsert(doc)`         | `c.upsert(df, "id")`          |
  * | `collection.find({selector})`    | `c.find(selector, ...)`       |
  * | `collection.find(sel).remove()`  | `c.remove(selector)`          |
  * | `collection.count().exec()`      | `c.count(selector)`           |
  * | `collection.findByIds(ids)`      | `c.findByIds(ids)`            |
  * | `exportJSON()` / `importJSON()`  | `c.exportJson` / `importJson` |
  *
  * Collections are parquet-backed directories under the warehouse; all
  * query evaluation is the engine's Catalyst surface (Mango translator,
  * pushdown, pruning) — the facade adds no execution machinery of its
  * own.
  */
final case class GraftDb(spark: SparkSession, warehouseDir: String) {
  def collection(name: String): GraftCollection =
    GraftCollection(spark, s"$warehouseDir/$name")
}

final case class GraftCollection(spark: SparkSession, path: String) {

  def toDf: DataFrame = Util.readParquet(spark, path)

  private def fs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // a filesystem existence check, NOT a try/catch around the read: a
  // transient read failure misread as "empty collection" would make
  // upsert overwrite the table with just the incoming batch
  private def exists: Boolean = fs.exists(new org.apache.hadoop.fs.Path(path))

  /** S3 bulkInsert — append a batch. */
  def bulkInsert(docs: DataFrame): Unit =
    docs.write.mode(SaveMode.Append).parquet(path)

  /** Swap the staged rewrite into place. rename→rename→delete, not
    * delete→rename: a delete of a large table is O(files), so deleting
    * first leaves a long no-table window. Renames are single metadata
    * ops; the remaining gap is the instant between the two renames.
    * Single-writer is assumed (as in the reference's Dexie storage); a
    * crash between the renames leaves the data intact at `path__old`
    * for manual recovery rather than destroyed.
    */
  private def swapIn(stagingP: org.apache.hadoop.fs.Path): Unit = {
    val pathP = new org.apache.hadoop.fs.Path(path)
    val oldP = new org.apache.hadoop.fs.Path(path + "__old")
    fs.delete(oldP, true) // leftover from a prior crashed swap
    fs.rename(pathP, oldP)
    fs.rename(stagingP, pathP)
    fs.delete(oldP, true)
  }

  /** S4 upsert — insert-or-replace by primary key, last-writer-wins for
    * keys present in `docs` (anti-join + append of the union — the
    * idempotent pattern from SURVEY §2.1 S4; no table format required).
    */
  def upsert(docs: DataFrame, key: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    // last-writer-wins WITHIN the batch needs an explicit order —
    // dropDuplicates keeps an arbitrary occurrence
    val wk = Window.partitionBy(key).orderBy(col("__pos").desc)
    val incoming = docs.withColumn("__pos", monotonically_increasing_id())
      .withColumn("__rn", row_number().over(wk))
      .filter(col("__rn") === 1).drop("__pos", "__rn")
    if (!exists) { incoming.write.mode(SaveMode.Overwrite).parquet(path); return }
    val merged = toDf.join(incoming.select(key), Seq(key), "left_anti")
      .unionByName(incoming)
    // stage the merged table once, then swap directories — a
    // write-then-copy would both double the IO and leave a window
    // where the table directory is already cleared
    val tmpP = new org.apache.hadoop.fs.Path(path + "__staging")
    merged.write.mode(SaveMode.Overwrite).parquet(tmpP.toString)
    swapIn(tmpP)
  }

  /** Mango query surface (P1-P12 + sort/skip/limit, pk tie-break). */
  def find(selector: Map[String, Any], sort: Seq[(String, String)] = Nil,
      primaryKey: String = "", skip: Int = 0, limit: Option[Int] = None,
      fields: Seq[String] = Nil): DataFrame =
    Mango.query(toDf, selector, sort, primaryKey, skip, limit, fields)

  /** S9 count over a selector (no row materialization beyond the scan). */
  def count(selector: Map[String, Any] = Map.empty): Long =
    toDf.filter(Mango.selectorToColumn(selector)).count()

  /** S5/S6 findByIds. */
  def findByIds(key: String, ids: Seq[Any]): DataFrame =
    toDf.filter(col(key).isin(ids: _*))

  /** RxDB `find(selector).remove()`: delete every document matching the
    * Mango selector; returns how many were removed. Same staged
    * write-then-atomic-swap discipline as upsert (rewriting in place
    * would leave a window with no table).
    */
  def remove(selector: Map[String, Any]): Long = {
    if (!exists) return 0L
    val current = toDf
    val total = current.count()
    // null-selector semantics: a doc whose predicate evaluates NULL
    // (e.g. a comparison against a null field) does NOT match, so it
    // must be KEPT — a bare !cond would silently drop it
    val remaining = current.filter(
      !coalesce(Mango.selectorToColumn(selector), lit(false)))
    val kept = remaining.count()
    if (kept < total) {
      val tmpP = new org.apache.hadoop.fs.Path(path + "__staging")
      remaining.write.mode(SaveMode.Overwrite).parquet(tmpP.toString)
      swapIn(tmpP)
    }
    total - kept
  }

  // ------------------------------------------------------ vector search
  // The reference's three exported search functions
  // (`/root/reference/src/search.ts:5,19,56`), one-to-one. `pivots` play
  // the role of the reference's fixed pivot vectors
  // (`src/vector.ts:43`); for the materialized build-once/serve-many
  // path use `graft.operators.Knn.searchIndexed` over an
  // `index.IndexBuild` table instead.

  /** Optional Mango pre-filter combined with vector search. The
    * reference serves ALL vector search through Mango selectors — but
    * the selector in `src/search.ts:19-54` is the pivot-band predicate
    * of `vectorSearchIndexRange` itself, not a user metadata filter;
    * the reference has no metadata-filtered vector search. This
    * GENERALIZES that selector-served machinery to arbitrary metadata
    * pre-filters: PRE-filter semantics — the k results are the nearest
    * among the documents matching the selector, not a post-filtered
    * top-k (which loses recall under selective filters; see also
    * `Indexed.v16FilteredIvf` for the index-served variant).
    */
  private def searchBase(selector: Map[String, Any]): DataFrame =
    if (selector.isEmpty) toDf
    else toDf.filter(Mango.selectorToColumn(selector))

  /** Exact full-scan kNN (`vectorSearchFullScan`). */
  def vectorSearchFullScan(q: Seq[Float], k: Int = 10, idCol: String = "id",
      embeddingCol: String = "embedding",
      selector: Map[String, Any] = Map.empty): DataFrame =
    graft.operators.Knn.fullScanKnnOn(searchBase(selector), idCol, embeddingCol,
      typedlit(q), k)

  /** Pivot-range kNN (`vectorSearchIndexRange`). */
  def vectorSearchIndexRange(q: Seq[Float], pivots: Seq[Seq[Float]],
      eps: Double = 0.05, k: Int = 10, idCol: String = "id",
      embeddingCol: String = "embedding",
      selector: Map[String, Any] = Map.empty): DataFrame =
    graft.operators.Knn.indexRangeKnnOn(searchBase(selector), idCol, embeddingCol,
      typedlit(q), pivots.map(typedlit(_)), k, eps)

  /** Per-side pivot-neighborhood kNN (`vectorSearchIndexSimilarity`,
    * docsPerIndexSide default per the reference).
    */
  def vectorSearchIndexSimilarity(q: Seq[Float], pivots: Seq[Seq[Float]],
      perSide: Int = 100, k: Int = 10, idCol: String = "id",
      embeddingCol: String = "embedding",
      selector: Map[String, Any] = Map.empty): DataFrame =
    graft.operators.Knn.indexSimilarityKnnOn(searchBase(selector), idCol, embeddingCol,
      typedlit(q), pivots.map(typedlit(_)), k, perSide)

  /** S7 dump / restore with schema enforcement. For a NEW collection
    * pass `schema` explicitly — otherwise the restored types are
    * whatever JSON inference picks (e.g. every integer becomes long),
    * which a later insert of original-width rows would then conflict
    * with inside the same parquet directory.
    */
  def exportJson(outPath: String): Unit = Util.exportJson(toDf, outPath)
  def importJson(inPath: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val target = schema.getOrElse {
      if (exists) toDf.schema else spark.read.json(inPath).schema
    }
    Util.importJson(spark, inPath, target)
      .write.mode(SaveMode.Append).parquet(path)
  }
}
