package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (same knobs as Verify/Bench). */
trait SparkSuite extends AnyFunSuite {
  // Specs build index artifacts for per-run fixture dirs; isolate them
  // in a test warehouse (cleaned by `sbt clean`) so fixture junk never
  // accumulates in — or races — the real durable warehouse the driver's
  // Verify/Bench runs share.
  sys.props.getOrElseUpdate("graft.warehouse", "target/graft-test-warehouse")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `f`'s value with the notes its operators recorded (which path
    * served a CC, rank, peel or census call).
    */
  def withNotes[T](f: => T): (T, Map[String, String]) = {
    val (v, p) = graft.core.QueryProfile.run(spark)(f)
    (v, p.notes)
  }
}
