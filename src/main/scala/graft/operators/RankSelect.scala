package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Distributed exact rank selection (opt r21 — r20 VERDICT next-round
  * item 1).
  *
  * The percentile family (q_agg_approx_percentile's exact band,
  * q_agg_percentiles, q_agg_median) needs, per group, the ordering
  * value at a handful of ranks r(n) under ORDER BY v ASC. The previous
  * formulation computed row_number()/count() over
  * `Window.partitionBy(group)`: with |groups| = 3-5 that window sorts
  * EACH WHOLE GROUP in a single task at any scale — at 100 TB a
  * billion-row `l_returnflag` group is one task's sort, and the whole
  * input crosses the network into |groups| partitions. Measured at
  * sf0.1 (graft.tools.Profile): the two window-branch jobs of
  * q_agg_approx_percentile ran 3 tasks each at ~1.1 task-seconds —
  * the suite's #1 row (2.4 s) with an 8→32-core scaling ratio ≈ 1
  * (serial).
  *
  * Key observation: every caller emits the ORDERING VALUE ITSELF at
  * the selected rank (never a payload column), so ties in v are
  * output-invariant — whatever tiebreak places equal values at
  * adjacent ranks, the value AT any rank inside the tie run is the
  * same v. That turns rank selection into a bucket search (guide §2.3
  * "shuffle fewer bytes" taken to its limit — the selection shuffles
  * almost nothing):
  *
  *  1. per-group stats (n, min v, max v) — one all-parallel aggregate;
  *  2. order-preserving bucketing `width_bucket(v, vmin, vmax+1, B)`
  *     (equal v → equal bucket, lower v → lower-or-equal bucket) and
  *     per-(group, bucket) counts — a second all-parallel aggregate
  *     with ≤ |groups|·(B+1) output rows; prefix sums give each
  *     bucket its global rank interval (off, off+bc], which names the
  *     ONE bucket owning each requested rank;
  *  3. only the owning buckets' rows — ~n/B per rank — survive the
  *     final scan (plus a redundant, pushdown-friendly global v-range
  *     conjunct with one-bucket slack on each side); the value whose
  *     within-bucket cumulative count first reaches the rank's local
  *     offset is selected off the survivors' (group, bucket, v)
  *     histogram.
  *
  * The full input is scanned three times (all-parallel, column-pruned
  * scans) but NEVER sorted and never shuffled — the only shuffled rows
  * are aggregate summaries and the target buckets' survivors. The two
  * decision passes collect their summaries to the driver: ≤ |groups|
  * and ≤ |groups|·(B+1) rows, coordinator state bounded by
  * construction and independent of data size — the
  * d16-probe/graph-ANN-walk driver-pacing discipline, NOT a
  * data-proportional collect (a first, fully-lazy cut kept these
  * decisions in-plan via broadcast joins; its 19-job / 4-broadcast
  * plan cost ~0.7 s of pure driver planning per query at sf0.1, 2×
  * the whole data work — measured with graft.tools.Profile, same
  * numbers in its scaladoc's history). Construction is therefore
  * eager (the d16 `probeSigIndex` contract): building the returned
  * plan runs the two summary jobs.
  *
  * The one window that remains is bounded by construction (survivor
  * histograms, ≤ the owning buckets' distinct values) — the
  * bounded-window posture of the post-limit windows in
  * Hybrid/TextAnalysis. B is `spark.graft.rankselect.buckets`
  * (default [[DefaultBuckets]]); at cluster scale raise it so n/B
  * stays task-sized — the plan shape is B-independent, and even B=1
  * is merely the degenerate one-bucket-per-group sort.
  *
  * Null ordering matches the window formulation's ASC NULLS FIRST:
  * null v maps to bucket 0, below every width_bucket result (≥ 1), so
  * a rank landing inside the leading null run resolves to null at the
  * driver (bucket 0 never reaches the survivor scan). A rank beyond n
  * owns no bucket and yields null — what the callers'
  * `when(rn === r)` aggregates produced for an absent rank.
  *
  * RankSelectSpec pins equality against the window formulation on
  * randomized data (duplicates, 1-row groups, rank = 1/n/n+1,
  * all-equal groups, nulls, bucket-count independence).
  */
object RankSelect {

  /** Local default for the bucket fan-out. 1024 buckets × the widest
    * caller's 3-5 groups keeps survivor sets ≈ n/1024 per rank while
    * the summary collects stay a few thousand rows. On a cluster,
    * scale via `spark.graft.rankselect.buckets` so n/B stays in the
    * task-sized band (guide §2.2) — the summary collect grows only
    * with B, never with n.
    */
  val DefaultBuckets = 1024

  /** Group-size floor for the bucket search (rows). A group at or
    * under this sorts in ONE task in milliseconds on any hardware —
    * a few MB of (group, v) pairs — so the whole-group window
    * formulation is strictly cheaper there (no second summary pass,
    * no survivor machinery): the connectedComponents driver-budget
    * discipline applied to rank selection. Groups above it take the
    * distributed bucket search. Size-bounded algorithm choice, not a
    * local-mode knob: the bound is a per-task memory/sort argument
    * (`spark.graft.rankselect.smallGroupRows` to tune), and both
    * routes are value-identical (RankSelectSpec pins them against
    * each other).
    */
  val SmallGroupRows = 65536L

  private def buckets(df: DataFrame): Int =
    df.sparkSession.conf
      .get("spark.graft.rankselect.buckets", DefaultBuckets.toString).toInt

  private def smallGroupRows(df: DataFrame): Long =
    df.sparkSession.conf
      .get("spark.graft.rankselect.smallGroupRows", SmallGroupRows.toString)
      .toLong

  /** One row per group: the grouping columns, `n` (group row count,
    * long), and for each (name, rankOf) a column `name` holding the
    * value of `v` at 1-based rank `rankOf(n)` in ORDER BY v ASC (null
    * when the rank exceeds n). `rankOf` receives the group count
    * column (long) and must yield an integral rank expression ≥ 1.
    *
    * Eager construction (see object scaladoc): runs the two summary
    * jobs; the returned frame holds only the survivor-selection plan.
    */
  def selectAtRanks(df: DataFrame, grpCols: Seq[String], v: String,
      ranks: Seq[(String, Column => Column)]): DataFrame = {
    val s = df.sparkSession
    val b = buckets(df)
    val g = grpCols.map(col)
    val vType = df.schema(v).dataType

    // pass 1 (eager, |groups| rows): per-group n / vmin / vmax, plus
    // the requested rank VALUES — evaluated by Spark itself over the
    // |groups|-row local result so rankOf's expression semantics
    // (ceil/floor typing and all) are exactly the window form's
    val stats = df.groupBy(g: _*).agg(
      count(lit(1)).as("__n"),
      min(col(v)).as("__vmin"), max(col(v)).as("__vmax"))
    val statRows = stats
      .select((g :+ col("__n") :+ col("__vmin") :+ col("__vmax")) ++
        ranks.map { case (nm, rf) => rf(col("__n")).cast("long").as(nm) }: _*)
      .collect()
    val nGrp = grpCols.size
    case class GrpInfo(key: Seq[Any], n: Long, rankOf: Map[String, Long])
    val grps = statRows.toSeq.map { r =>
      GrpInfo(r.toSeq.take(nGrp), r.getLong(nGrp),
        ranks.zipWithIndex.map { case ((nm, _), i) =>
          nm -> (if (r.isNullAt(nGrp + 3 + i)) Long.MinValue
                 else r.getLong(nGrp + 3 + i)) }.toMap)
    }

    // small-group route (see [[SmallGroupRows]]): every group sorts in
    // one trivially-sized task → the classic whole-group window form,
    // value-identical by RankSelectSpec's pin, one pass instead of two
    // more
    if (grps.nonEmpty && grps.forall(_.n <= smallGroupRows(df))) {
      val w = Window.partitionBy(g: _*).orderBy(col(v).asc)
      val r = df
        .withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(g: _*)))
      val aggs = ranks.map { case (nm, rf) =>
        max(when(col("__rn") === rf(col("__n")), col(v))).as(nm) }
      return r.groupBy(g: _*)
        .agg(max(col("__n")).as("n"), aggs: _*)
        .select((g :+ col("n")) ++
          ranks.map { case (nm, _) => col(nm).cast(vType).as(nm) }: _*)
    }

    // the group's bucket expression — identical literals in the count
    // pass and the survivor pass, so assignment is bit-identical
    def grpPred(key: Seq[Any]): Column =
      grpCols.zip(key).map { case (c, k) => col(c) <=> lit(k) }
        .reduce(_ && _)
    val bCol: Column = {
      val perGrp = statRows.toSeq.foldLeft(lit(null).cast("long")) { (acc, r) =>
        val (vmin, vmax) = (r.get(nGrp + 1), r.get(nGrp + 2))
        if (vmin == null) acc // all-null group: no non-null v to bucket
        else when(grpPred(r.toSeq.take(nGrp)),
          width_bucket(col(v).cast("double"),
            lit(vmin).cast("double"), lit(vmax).cast("double") + lit(1.0),
            lit(b))).otherwise(acc)
      }
      when(col(v).isNull, lit(0L)).otherwise(perGrp)
    }

    // pass 2 (eager, ≤ |groups|·(B+1) rows): per-(group, bucket)
    // counts; prefix sums at the driver name each rank's owning bucket
    val cntRows = df
      .select((g :+ bCol.as("__b")): _*)
      .groupBy((g :+ col("__b")): _*).agg(count(lit(1)).as("__c"))
      .collect()
    val byGrp = cntRows.toSeq.groupBy(_.toSeq.take(nGrp))
    // (groupKey, name) -> (bucket, local rank) for ranks that land in
    // a real (non-null-run) bucket; everything else resolves to null
    val targets: Seq[(Seq[Any], String, Long, Long)] = grps.flatMap { gi =>
      val bks = byGrp.getOrElse(gi.key, Seq.empty)
        .map(r => (r.getLong(nGrp), r.getLong(nGrp + 1)))
        .sortBy(_._1)
      val offs = bks.scanLeft(0L)(_ + _._2)
      gi.rankOf.toSeq.flatMap { case (nm, r) =>
        bks.indices.collectFirst {
          case i if r > offs(i) && r <= offs(i) + bks(i)._2 && bks(i)._1 > 0L =>
            (gi.key, nm, bks(i)._1, r - offs(i))
        }
      }
    }

    // the assembled output skeleton: one literal row per group
    import scala.jdk.CollectionConverters._
    val skelSchema = org.apache.spark.sql.types.StructType(
      grpCols.map(c => df.schema(c)) :+
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false))
    val skel = s.createDataFrame(
      grps.map(gi => Row.fromSeq(gi.key :+ gi.n)).asJava, skelSchema)

    if (targets.isEmpty) {
      // every requested rank is out of range or inside a null run
      val nulls = ranks.map { case (nm, _) => lit(null).cast(vType).as(nm) }
      return skel.select((g :+ col("n")) ++ nulls: _*)
    }

    // pass 3 (lazy — the returned plan): survivor scan over the owning
    // buckets only, with a redundant global v-range conjunct the
    // parquet reader can push down (one-bucket slack per side keeps it
    // a provable superset of the exact bucket filter)
    val tgtByGrp = targets.groupBy(_._1)
    val grpRanges = tgtByGrp.toSeq.map { case (key, ts) =>
      val r = statRows.find(_.toSeq.take(nGrp) == key).get
      val (vmin, vmax) = (r.getDouble2(nGrp + 1), r.getDouble2(nGrp + 2))
      val w = (vmax + 1.0 - vmin) / b
      val (lo, hi) = (ts.map(_._3).min, ts.map(_._3).max)
      (key, ts, vmin + (lo - 2) * w, vmin + (hi + 1) * w)
    }
    val survPred = grpRanges.map { case (key, ts, rlo, rhi) =>
      grpPred(key) && col("__b").isin(ts.map(_._3).distinct: _*) &&
        col(v).cast("double") >= lit(rlo) && col(v).cast("double") < lit(rhi)
    }.reduce(_ || _)
    // group-independent v-range conjunct: a plain comparison on the
    // raw column (no cast for the callers' double v), so the parquet
    // reader's min/max row-group pruning sees it even though the
    // per-group OR above cannot be factored
    val globalRange =
      col(v).isNotNull &&
        col(v) >= lit(grpRanges.map(_._3).min) &&
        col(v) < lit(grpRanges.map(_._4).max)
    val tgtSchema = org.apache.spark.sql.types.StructType(
      grpCols.map(c => df.schema(c)) :+
        org.apache.spark.sql.types.StructField("__b",
          org.apache.spark.sql.types.LongType, nullable = false) :+
        org.apache.spark.sql.types.StructField("__nm",
          org.apache.spark.sql.types.StringType, nullable = false) :+
        org.apache.spark.sql.types.StructField("__lr",
          org.apache.spark.sql.types.LongType, nullable = false))
    val tgtDf = s.createDataFrame(
      targets.map { case (key, nm, bid, lr) =>
        Row.fromSeq(key ++ Seq(bid, nm, lr)) }.asJava, tgtSchema)
    val sel = df
      .filter(globalRange)
      .select((g :+ col(v) :+ bCol.as("__b")): _*)
      .filter(survPred)
      .groupBy((g :+ col("__b") :+ col(v)): _*).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum("__c").over(
        Window.partitionBy((g :+ col("__b")): _*).orderBy(col(v).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(tgtDf), grpCols :+ "__b")
      .filter(col("__cum") >= col("__lr") &&
        (col("__cum") - col("__c")) < col("__lr"))
    val pivots = ranks.map { case (nm, _) =>
      min(when(col("__nm") === nm, col(v))).as(nm) }
    skel.join(sel.groupBy(g: _*).agg(pivots.head, pivots.tail: _*),
      grpCols, "left")
      .select((g :+ col("n")) ++
        ranks.map { case (nm, _) => col(nm).cast(vType).as(nm) }: _*)
  }

  private implicit class RowNum(private val r: Row) extends AnyVal {
    /** Numeric cell as double regardless of physical type. */
    def getDouble2(i: Int): Double = r.get(i) match {
      case d: Double => d
      case f: Float => f.toDouble
      case l: Long => l.toDouble
      case n: Number => n.doubleValue()
    }
  }
}
