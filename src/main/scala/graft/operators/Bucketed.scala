package graft.operators

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shuffle-free co-located joins over BUCKETED tables — the layout move
  * that makes repeated fact-to-fact joins viable at 100 TB.
  *
  * `q_join_*`/`q_j1..j5` demonstrate the join operators themselves; all
  * of them either broadcast a small side or shuffle both sides on the
  * join key at query time. That per-query shuffle is the dominant cost
  * of a large join pipeline: at 100 TB a single orders⋈lineitem exchange
  * moves the whole fact table across the network, every time any query
  * joins them. The warehouse fix is to pay the shuffle ONCE at ingest:
  * write both tables hash-bucketed (and sorted) on the join key, then
  * every subsequent join co-locates matching keys by construction —
  * Catalyst plans a SortMergeJoin with NO Exchange on either side
  * (asserted in `BucketedSpec`; only per-partition sorts remain, which
  * stream from disk).
  *
  * Build-once / serve-many discipline mirrors [[Indexed.ensureIndex]]:
  * the bucketed copies are materialized once under the durable
  * warehouse ([[graft.core.ArtifactStore.root]]) and registered in the
  * session catalog; the query reads only the bucketed tables. The oracle recomputes the same aggregate from
  * the raw parquet — bucketing is a physical-layout property, so the
  * logical result must be identical (that equality IS the check).
  */
object Bucketed {

  /** 8 buckets at test scale; at 100 TB you'd size buckets so one
    * bucket's rows fit an executor's shuffle-free merge (e.g. 4096),
    * and the plan shape below is unchanged.
    */
  val NBuckets = 8

  private def absHash(d: String): String = {
    val abs = new java.io.File(d).getAbsolutePath
    java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  /** Write `df` as a bucketed+sorted external table once per catalog.
    * `repartition(NBuckets, key)` first so each write task holds exactly
    * one bucket's rows (same murmur3 hash both places) — one file per
    * bucket, the layout that keeps bucket scans single-file.
    *
    * Concurrency: several JVMs (bench + tests on one sf dir) may build
    * the same table at once. Each builds ASIDE under a unique tmp dir,
    * then swaps it in with a single rename(2) — atomic on the local FS,
    * and it FAILS if the target already exists, so the loser just
    * discards its build and reuses the winner's dir. Nobody ever reads
    * a half-written or half-deleted dir (the r4 delete-vs-read race).
    * Staleness: the dir name carries a layout tag (buckets, key, schema)
    * — a build-code change lands in a NEW dir instead of silently
    * reusing an old incompatible one.
    */
  private def writeIfAbsent(s: SparkSession, table: String, path: String,
      df: DataFrame, key: String): Unit = {
    if (s.catalog.tableExists(table)) return
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val tmpTable = table + "_build_" + java.util.UUID.randomUUID().toString.take(8)
      val tmpPath = path + "_" + tmpTable
      df.repartition(NBuckets, col(key))
        .write.bucketBy(NBuckets, key).sortBy(key)
        .option("path", tmpPath).saveAsTable(tmpTable)
      // external table: DROP removes metadata only, the files stay
      s.sql(s"DROP TABLE $tmpTable")
      // rename(2): atomic; fails iff the target exists (another JVM won)
      if (!new java.io.File(tmpPath).renameTo(new java.io.File(path)))
        fs.delete(new org.apache.hadoop.fs.Path(tmpPath), true)
    }
    // register this JVM's catalog entry over the (now-final) dir; the
    // bucket spec in the DDL matches what the files were written with
    s.sql(
      s"""CREATE TABLE IF NOT EXISTS $table (${df.schema.toDDL})
         |USING PARQUET
         |CLUSTERED BY ($key) SORTED BY ($key) INTO $NBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }

  /** Ensure the bucketed orders/lineitem copies for `d` exist and are
    * registered; returns (ordersTable, lineitemTable) catalog names.
    * Only the join/agg columns are kept — the bucketed copy is a
    * purpose-built projection, not a second full copy of the fact table.
    */
  def ensureBucketed(s: SparkSession, d: String): (String, String) = synchronized {
    val h = absHash(d)
    def tag(key: String, schemaDdl: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$NBuckets|$key|$schemaDdl".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice")
    val l = Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
    val oTag = tag("o_orderkey", o.schema.toDDL)
    val lTag = tag("l_orderkey", l.schema.toDDL)
    val oT = s"graft_orders_bkt_${h}_$oTag"
    val lT = s"graft_lineitem_bkt_${h}_$lTag"
    val base = s"${graft.core.ArtifactStore.root}/bucketed"
    writeIfAbsent(s, oT, s"$base/orders_${h}_$oTag", o, "o_orderkey")
    writeIfAbsent(s, lT, s"$base/lineitem_${h}_$lTag", l, "l_orderkey")
    (oT, lT)
  }

  /** The row-level co-located join (no aggregate) — the fragment whose
    * physical plan `BucketedSpec` audits for zero exchanges.
    */
  def bucketedJoinRows(s: SparkSession, d: String): DataFrame = {
    val (oT, lT) = ensureBucketed(s, d)
    s.table(oT).join(s.table(lT), col("o_orderkey") === col("l_orderkey"))
  }

  /** J6: per-priority order-fulfillment rollup over the co-located join.
    * The join moves zero rows over the network; the only exchange in the
    * query carries the 5-row partial aggregate.
    */
  val j6BucketedJoin: Relational.Q = (s, d) =>
    bucketedJoinRows(s, d)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        countDistinct("o_orderkey").as("n_orders"),
        round(sum("l_quantity"), 2).as("qty"),
        Relational.revenueCents.as("revenue"))
      .orderBy("o_orderpriority")

  val queries: Map[String, Relational.Q] = Map(
    "q_j6_bucketed_join" -> j6BucketedJoin,
  )

  // The oracle reads the RAW parquet: bucketing must be invisible to the
  // logical result, so raw == bucketed is exactly the property to check.
  val oracleSql: Map[String, String] = Map(
    "q_j6_bucketed_join" ->
      s"""SELECT o.o_orderpriority,
        |       count(*) AS n_items,
        |       count(DISTINCT o.o_orderkey) AS n_orders,
        |       round(CAST(sum(l.l_quantity) AS DOUBLE), 2) AS qty,
        |       ${Relational.RevenueCentsSql} AS revenue
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
