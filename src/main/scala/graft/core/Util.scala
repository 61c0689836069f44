package graft.core

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** S7: whole-table JSON dump / restore with schema check (reference
  * json-dump plugin, SURVEY §2.1 S7) and A4: the `docReads` cost metric
  * (rows actually scanned by an executed plan, SURVEY §2.4 A4).
  */
object Util {

  /** `spark.read.parquet(path)` for a local table, without the
    * schema-inference job once this JVM has read the same files: the
    * inferred schema is kept per path together with a digest of the
    * table's file listing (relative name, size, mtime of every file,
    * recursively), and a read whose listing digests the same states that
    * schema instead of inferring it again. Any added, removed, resized
    * or rewritten file infers afresh. A path that is missing or not on
    * the local file system reads exactly as `spark.read.parquet` does.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val root = java.nio.file.Paths.get(path)
    val listing =
      if (path.contains("://") || !java.nio.file.Files.exists(root)) None
      else {
        val files = java.nio.file.Files.walk(root)
        try Some(files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map { f =>
            s"${root.relativize(f)}:${java.nio.file.Files.size(f)}:" +
              java.nio.file.Files.getLastModifiedTime(f).toMillis
          }.toSeq.sorted.mkString(";"))
        finally files.close()
      }
    listing.flatMap(l => schemas.get(path).collect { case (`l`, sch) => sch }) match {
      case Some(sch) => spark.read.schema(sch).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        listing.foreach(l => schemas.put(path, (l, df.schema)))
        df
    }
  }
  private val schemas =
    scala.collection.concurrent.TrieMap.empty[String, (String, StructType)]

  /** Export a DataFrame as JSON lines. */
  def exportJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** A literal (lineage-free) frame over already-collected rows — the
    * materialize-in-span idiom shared by the timed v19 legs, the g-serve
    * final phase, the range and similarity searches, and the rebuild
    * self-heal: values and schema identical to the source plan, but an
    * action on the result touches only local rows (the distributed work
    * was paid where the rows were collected, inside whatever
    * instrumented section owns it). Installs [[LocalRelationFold]] on
    * the session, so a caller's sort, de-duplication, filter, limit or
    * projection over the frame runs no job either.
    */
  def literalFrame(spark: SparkSession, rows: Array[org.apache.spark.sql.Row],
      schema: StructType): DataFrame = {
    LocalRelationFold.setup(spark)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Import a JSON dump, enforcing the expected schema (the analogue of
    * RxDB's schema-hash check on importJSON: a dump taken under a
    * different schema is rejected, not silently coerced).
    */
  def importJson(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val inferred = spark.read.json(path)
    val missing = schema.fieldNames.toSet -- inferred.schema.fieldNames.toSet
    require(missing.isEmpty, s"dump at $path missing fields: $missing")
    spark.read.schema(schema).json(path)
  }

  /** A parquet table that may not exist yet — None on PATH_NOT_FOUND
    * (the table was never written), any other read failure propagates.
    * The shared form of the idiom the streaming ingesters and
    * [[graft.streaming.RxState]] each hand-rolled: a fix to the
    * missing-path discrimination (e.g. a renamed Spark error
    * condition) now lands once.
    */
  def readParquetIfExists(spark: SparkSession, dir: String): Option[DataFrame] =
    try Some(spark.read.parquet(dir))
    catch {
      case e: AnalysisException
          if Option(e.getCondition).contains("PATH_NOT_FOUND") => None
    }

  /** Recursive local-filesystem delete (missing path is a no-op). */
  def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  /** Reclaim orphaned decision-staging directories next to a ledger
    * dir: the streaming ingesters stage each batch's acceptance
    * decision at `<ledgerDir>.staging-<uuid>` and delete it in a
    * `finally`, but a hard crash (kill -9, host loss) between the
    * staging write and the cleanup strands the dir with no other
    * reclaim path — unlike ArtifactStore debris, which gcVersions
    * ages out. Called at ingest-batch start: under the single-ingester
    * contract (T7 leader election is out of scope — one process owns
    * a ledger) any staging dir present when a NEW batch begins is by
    * definition an orphan of a crashed run, never a live peer's.
    */
  def sweepStagingDirs(ledgerDir: String): Unit = {
    val ledger = new java.io.File(ledgerDir)
    val prefix = ledger.getName + ".staging-"
    Option(ledger.getAbsoluteFile.getParentFile)
      .flatMap(p => Option(p.listFiles())).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .foreach(f => deleteRecursively(f.getPath))
  }

  /** docReads analogue: total rows produced by the leaf scans of an
    * executed plan. Call AFTER an action so SQL metrics are populated;
    * runs one if none has been.
    */
  def rowsScanned(df: DataFrame): Long = {
    // execute the df's OWN QueryExecution (a write/count would build a
    // fresh one and leave these plan nodes' metrics untouched)
    df.queryExecution.toRdd.count()
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(s.plan)
      case l if l.children.isEmpty => Seq(l)
      case other => other.children.flatMap(leaves)
    }
    leaves(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
  }
}
