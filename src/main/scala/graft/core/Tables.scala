package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Access to the driver-provided parquet tables (TESTDATA.md).
  *
  * Every operator in the engine reads these through this single entry so
  * that (a) schema expectations live in one place and (b) a future move
  * from plain parquet files to a partitioned/bucketed warehouse layout is
  * a one-file change. At 100 TB these would be bucketed tables (see
  * `graft.index.IndexBuild` for the vector layout); the query code is
  * agnostic to that.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from an sf directory. Column pruning + predicate
    * pushdown reach the parquet scan because this is a plain
    * declarative parquet read — no RDD wrapping — whose schema is
    * inferred once per file listing ([[Util.readParquet]]).
    */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Util.readParquet(spark, s"$sfDir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  /** The engine-wide contract is `ts: Long` nanoseconds since epoch
    * (every temporal operator does integer day/µs arithmetic on it and
    * the DuckDB oracles mirror that via `epoch_us(ts)`). The parquet
    * has carried two physical encodings across driver revisions —
    * INT64 TIMESTAMP(NANOS) (already a Long under the sessions'
    * `nanosAsLong` conf) and TIMESTAMP(MICROS) (reads as
    * timestamp_ntz) — so the scan normalizes by dtype: the ntz case
    * converts wall-clock → instant in the session timezone, which
    * every session in this repo pins to UTC, exactly how DuckDB's
    * `epoch_us` interprets the same naive timestamp.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        // Normalize ONCE into the warehouse and serve the Long-ts
        // copy: the per-query `unix_micros(cast)` column taxed every
        // events query ~1.15-1.3x AND hid `ts` from parquet pushdown
        // (a filter on a computed column cannot reach the scan). The
        // layout tag digests the source's PART FILES (name, size,
        // mtime of every data file, recursively) so a driver-side
        // regeneration of events.parquet — which has changed encodings
        // across rounds before — invalidates the copy instead of
        // silently serving stale rows. Top-level File.length()/
        // lastModified() alone is wrong for a parquet DIRECTORY: an
        // in-place rewrite of a same-named part file changes neither.
        val src = new java.io.File(s"$d/events.parquet")
        val md = java.security.MessageDigest.getInstance("MD5")
        def fold(f: java.io.File): Unit =
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty)
              .sortBy(_.getName).foreach(fold)
          else
            md.update(s"${f.getName}:${f.length()}:${f.lastModified()};"
              .getBytes("UTF-8"))
        fold(src)
        val tag = "n2_" + md.digest().take(6).map("%02x".format(_)).mkString
        val dir = ArtifactStore.ensure(
          ArtifactStore.artifactDir("events_norm", d, tag)) { target =>
          raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
            .write.mode("overwrite").parquet(s"$target/events")
        }
        s.read.parquet(s"$dir/events")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
