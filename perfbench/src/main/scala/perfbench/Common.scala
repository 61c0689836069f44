package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run was given. `root` is the run's private directory; every
  * file the run writes lives under it. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, root: String, data: String) {
  val rng = new scala.util.Random(seed)
}

/** The client loop's bookkeeping: per-type latencies of timed
  * operations, attempts and failures, result digests, and the checks
  * that did not hold.
  */
final class Ops(tracer: Tracer) {
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val attempted = mutable.LinkedHashMap.empty[String, Int]
  val failed = mutable.LinkedHashMap.empty[String, Int]
  val problems = mutable.ArrayBuffer.empty[String]
  private val digests = mutable.HashMap.empty[String, String]
  private var nextOp = 0L
  /** True inside the timed region: only then are latencies kept. */
  var timing = false
  /** Sum of the timed operations' latencies so far, in seconds. */
  var timedS = 0.0

  /** Runs one client operation of type `kind`. `check` returns the
    * properties of the result that do not hold; any makes the run
    * incorrect. An exception counts the operation as failed. Returns the
    * result and its latency in ms. Attempts and failures are counted in
    * the timed region only, which runs whole rounds of one operation
    * mix, so the failed share does not depend on how many rounds fit.
    */
  def run[T](kind: String)(f: => T)(check: T => Seq[String]): Option[(T, Double)] = {
    if (timing) attempted(kind) = attempted.getOrElse(kind, 0) + 1
    val op = nextOp; nextOp += 1
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(kind, op)(f)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(e) =>
        if (timing) failed(kind) = failed.getOrElse(kind, 0) + 1
        System.err.println(s"[perfbench] $kind failed: $e")
        None
      case Right(v) =>
        if (timing) {
          latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
          timedS += ms / 1e3
        }
        check(v).foreach(p => problems += s"$kind: $p")
        Some(v -> ms)
    }
  }

  /** Records the digest of one operation's result under `key` (the
    * operation and its input); a repeat that digests differently is a
    * nondeterministic result. */
  def digest(key: String, value: String): Unit = {
    val d = Digest.of(value)
    digests.get(key) match {
      case Some(prev) if prev != d => problems += s"$key: result differs between repeats"
      case _ => digests(key) = d
    }
  }

  def digestOfAll: String = Digest.of(digests.toSeq.sorted.mkString(";"))
  def p50(kind: String): Double = Stats.median(latMs.getOrElse(kind, Nil).toSeq)
}

object Digest {
  def of(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Exact nearest neighbours computed apart from the program: plain
  * Scala over the stored vectors, with the distance accumulated in
  * double in index order and ties broken by id.
  */
object Brute {
  def dist(a: Array[Float], b: Array[Float]): Double = {
    var i = 0; var s = 0.0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }
  def topK(vecs: collection.Map[Long, Array[Float]], q: Array[Float], k: Int): Seq[(Long, Double)] =
    vecs.iterator.map { case (id, v) => id -> dist(v, q) }.toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)
  def argmin(ds: Seq[Double]): Int = ds.indices.minBy(i => (ds(i), i))
  /** The graph walk's score: the dot product of the vectors quantized to
    * integers at `Graph.QuantScale`. */
  def quantDot(a: Array[Float], b: Array[Float]): Long = {
    val s = graft.operators.Graph.QuantScale.toDouble
    a.indices.map(i => (math.floor(a(i).toDouble * s) * math.floor(b(i).toDouble * s)).toLong).sum
  }
}

/** Result checkers. Each returns the properties that do not hold, and
  * [[selfTest]] shows that each rejects a corrupted result. */
object Check {
  val Tol = 1e-5

  /** Exact search: the same ids as brute force, in the same order. */
  def exact(got: Seq[(Long, Double)], truth: Seq[(Long, Double)]): Seq[String] =
    if (got.map(_._1) != truth.map(_._1))
      Seq(s"ids ${got.map(_._1).mkString(",")} != brute force ${truth.map(_._1).mkString(",")}")
    else got.zip(truth).collect {
      case ((id, d), (_, t)) if math.abs(d - t) > Tol => s"id $id distance $d != $t"
    }

  /** Approximate search: at most k unique corpus ids in ascending order
    * of `rank` (the method's own ordering key, recomputed here), ties by
    * id; with `self`, the query doc itself first at distance 0 (for
    * strategies whose candidate set contains the query by construction). */
  def approx(ids: Seq[Long], vecs: collection.Map[Long, Array[Float]], q: Array[Float],
      self: Option[Long], k: Int,
      rank: Array[Float] => Double = null, tol: Double = Tol): Seq[String] = {
    val key = Option(rank).getOrElse((v: Array[Float]) => Brute.dist(v, q))
    val p = mutable.ArrayBuffer.empty[String]
    if (ids.isEmpty || ids.size > k) p += s"${ids.size} results"
    if (ids.distinct.size != ids.size) p += "duplicate ids"
    ids.filterNot(vecs.contains).foreach(i => p += s"id $i not in corpus")
    if (p.isEmpty) {
      val ks = ids.map(i => key(vecs(i)))
      // with an exact (integer) key, ties must also come in id order
      if (ids.indices.drop(1).exists(i => ks(i) < ks(i - 1) - tol ||
          (tol == 0 && ks(i) == ks(i - 1) && ids(i) < ids(i - 1))))
        p += "results out of rank order"
      val ds = ids.map(i => Brute.dist(vecs(i), q))
      self.filter(sid => ids.head != sid || ds.head > Tol)
        .foreach(sid => p += s"first result ${ids.head}, not the query doc $sid")
    }
    p.toSeq
  }

  /** Hydration: exactly the requested ids, each with the generator's text. */
  def hydrated(rows: Seq[(Long, String)], asked: Seq[Long], text: Long => String): Seq[String] =
    if (rows.map(_._1).sorted != asked.distinct.sorted)
      Seq(s"hydrated ids ${rows.map(_._1).sorted.mkString(",")} != ${asked.sorted.mkString(",")}")
    else rows.collect { case (id, t) if t != text(id) => s"id $id text differs from the input" }

  /** Id sets, for Mango finds and counts. */
  def sameIds(got: Seq[Long], want: Seq[Long]): Seq[String] =
    if (got.sorted == want.sorted) Nil
    else Seq(s"${got.size} ids != ${want.size} expected (${got.toSet.diff(want.toSet).take(3)} extra, " +
      s"${want.toSet.diff(got.toSet).take(3)} missing)")

  /** Each checker must reject a corrupted result: one id swapped, one row
    * dropped, one order flipped, one text changed. Returns the checkers
    * that accepted a corruption. */
  def selfTest(): Seq[String] = {
    val r = new scala.util.Random(7)
    val vecs: Map[Long, Array[Float]] = (0L until 50L).map { i =>
      val v = Array.fill(8)(r.nextGaussian().toFloat); i -> v
    }.toMap
    val q = vecs(3L)
    val truth = Brute.topK(vecs, q, 10)
    val texts = (i: Long) => s"text $i"
    val rows = truth.map { case (id, _) => id -> texts(id) }
    val bad = mutable.ArrayBuffer.empty[String]
    def mustFail(name: String, p: Seq[String]): Unit = if (p.isEmpty) bad += name
    def mustPass(name: String, p: Seq[String]): Unit = if (p.nonEmpty) bad += s"$name (rejects a good result)"
    val other = (0L until 50L).find(i => !truth.exists(_._1 == i)).get
    mustPass("exact", exact(truth, truth))
    mustFail("exact/swap", exact(truth.updated(4, other -> truth(4)._2), truth))
    mustFail("exact/drop", exact(truth.dropRight(1), truth))
    mustPass("approx", approx(truth.map(_._1), vecs, q, Some(3L), 10))
    mustFail("approx/order", approx(truth.map(_._1).reverse, vecs, q, None, 10))
    mustFail("approx/dup", approx(truth.map(_._1).updated(5, truth(4)._1), vecs, q, Some(3L), 10))
    mustFail("approx/foreign", approx(truth.map(_._1).updated(9, 999L), vecs, q, Some(3L), 10))
    mustPass("hydrated", hydrated(rows, truth.map(_._1), texts))
    mustFail("hydrated/drop", hydrated(rows.drop(1), truth.map(_._1), texts))
    mustFail("hydrated/text", hydrated(rows.updated(2, rows(2)._1 -> "x"), truth.map(_._1), texts))
    mustPass("sameIds", sameIds(Seq(1L, 2L, 3L), Seq(3L, 2L, 1L)))
    mustFail("sameIds/drop", sameIds(Seq(1L, 2L), Seq(1L, 2L, 3L)))
    mustFail("sameIds/swap", sameIds(Seq(1L, 2L, 4L), Seq(1L, 2L, 3L)))
    bad.toSeq
  }
}

/** Filesystem size of a directory tree: (data files, bytes). Spark's
  * metadata and checksum files are not counted. */
object Fs {
  def usage(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(p)
      try {
        val files = st.iterator().asScala.filter(f =>
          java.nio.file.Files.isRegularFile(f) && {
            val n = f.getFileName.toString
            !n.startsWith(".") && !n.startsWith("_") && n != "CURRENT" && n != "VERSIONS"
          }).toSeq
        (files.size.toLong, files.map(f => java.nio.file.Files.size(f)).sum)
      } finally st.close()
    }
  }
}
