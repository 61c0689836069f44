package graft.operators

import graft.core.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Temporal / event-stream operators: as-of join, sessionization, range
  * join, and JSON-property extraction over the `events` table.
  *
  * `events.ts` arrives as Long nanoseconds — [[graft.core.Tables.events]]
  * normalizes whatever the parquet physically carries (INT64 nanos or
  * TIMESTAMP(MICROS)) to that contract. The oracle-checked queries
  * truncate to MICROSECONDS (`ts div 1000`, exact integer division)
  * for every ordering and comparison: DuckDB timestamps are
  * µs-precision, so computing on raw nanos would resolve sub-µs ties
  * differently than the oracle.
  */
object Temporal {

  /** Generic as-of join: for every left row, the latest right row with
    * `rightTime <= leftTime` and equal keys.
    *
    * Implementation is the scalable union+window technique: tag sides,
    * union, one window over (keys, time, side) carrying the last
    * non-null right payload forward. One shuffle on the key columns, no
    * per-key driver loop, no range-explosion — this is the shape that
    * survives a 100 TB event table (a per-left-row correlated lookup
    * would not). DuckDB's native ASOF JOIN is the oracle, so the two
    * independent implementations check each other.
    *
    * @param rightPayload (name in right, alias in output); aliases must
    *   not collide with left columns.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String,
      rightPayload: Seq[(String, String)]): DataFrame = {
    val payloadAliases = rightPayload.map(_._2)
    val lTagged = left
      .withColumn("__t", col(leftTime)).withColumn("__side", lit(1))
    val rTagged0 = right
      .withColumn("__t", col(rightTime)).withColumn("__side", lit(0))
    val rTagged = rightPayload.foldLeft(rTagged0) { case (df, (from, to)) =>
      df.withColumn(to, col(from))
    }
    // align schemas: union by name; non-key left columns are null on the
    // right side, payload columns are null on the left side
    val leftCols = left.columns.toIndexedSeq
    val unioned = lTagged.select(
      (leftCols.map(col) ++ payloadAliases.map(a => lit(null).cast(rTagged.schema(a).dataType).as(a))
        :+ col("__t") :+ col("__side")): _*)
      .unionByName(rTagged.select(
        (leftCols.map(c =>
          if (keys.contains(c)) col(c)
          else lit(null).cast(left.schema(c).dataType).as(c))
          ++ payloadAliases.map(col) :+ col("__t") :+ col("__side")): _*))
    // right rows sort before left rows at equal time → inclusive (<=);
    // payload columns as final keys make the carried value deterministic
    // when two right rows share (key, time) — "last" = max payload
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col("__t").asc, col("__side").asc)
        ++ payloadAliases.map(col(_).asc_nulls_first)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payloadAliases.foldLeft(unioned) { (df, a) =>
      df.withColumn(a, last(col(a), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1).drop("__t", "__side")
  }

  // ------------------------------------------------------------ queries

  /** As-of join: each purchase event matched to the user's most recent
    * signup event at-or-before it.
    */
  val asofQ: Relational.Q = (s, d) => {
    val ev = events(s, d)
    // compare at MICROSECOND precision: Spark (nanosAsLong) holds ns,
    // DuckDB timestamps are µs — a sub-µs ordering difference would
    // flip the >= match on events that collide within one µs
    val tsu = expr("ts div 1000").as("tsu")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsu)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("sid"), col("user_id"), tsu)
    asofJoin(purchases, signups, Seq("user_id"), "tsu", "tsu",
      Seq("sid" -> "signup_event_id"))
      .select("event_id", "user_id", "signup_event_id")
      .orderBy("event_id")
  }

  /** Sessionization: 30-minute-gap sessions per user, one output row per
    * session. Two windows + one aggregation, all on the same user_id
    * partitioning — Catalyst reuses the exchange.
    */
  val sessionizeQ: Relational.Q = (s, d) => {
    // µs precision throughout (ordering AND gap arithmetic) so the
    // µs-native DuckDB oracle computes the identical comparisons
    val gapMicros = 1800L * 1000 * 1000
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsu").asc, col("event_id").asc)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("tsu", expr("ts div 1000"))
      .withColumn("prev_ts", lag("tsu", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull || col("tsu") - col("prev_ts") > gapMicros, 1L).otherwise(0L))
      .withColumn("session_id", sum("new_s").over(wRun))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("event_id").as("first_event"),
        max("event_id").as("last_event"),
        round(sum("value"), 2).as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** Numeric range join: events bucketed into [size*10, size*10+10)
    * value windows derived from `part.p_size`. The bucket side is tiny →
    * broadcast nested-loop; the events side streams through untouched.
    */
  val rangeJoinQ: Relational.Q = (s, d) => {
    val buckets = part(s, d).select(col("p_size").as("bucket")).distinct()
    events(s, d)
      .join(broadcast(buckets),
        col("value") >= col("bucket") * 10 && col("value") < col("bucket") * 10 + 10)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("bucket")
  }

  /** Multimodal-metadata extraction: typed access into the JSON `props`
    * column (the pattern for image/audio sidecar metadata on binary
    * columns — see graft.multimodal).
    */
  /** Opt r21 (both JSON projections): the events table reads as 2
    * scan splits, so the per-row JSON parse ran in 2 tasks — and the
    * final orderBy's range-sampling pass re-evaluated the parse over
    * every row (2 serial ~0.3 s jobs measured with graft.tools.Profile).
    * Range-repartitioning on the SORT KEY before the projection makes
    * the sampling pass read raw rows only (the parse sits above the
    * exchange) and the parse itself run once on every core; the final
    * Sort then needs no second exchange (the child already carries
    * RangePartitioning(event_id)).
    */
  val jsonExtractQ: Relational.Q = (s, d) =>
    events(s, d)
      .repartitionByRange(s.sparkContext.defaultParallelism, col("event_id"))
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  /** Schema-on-read into a MAP column: `from_json` to map<string,long>
    * then map functions (map_keys / element_at / size) — the dynamic
    * sibling of jsonExtractQ's fixed-path access. Array outputs are
    * joined to scalars for the dtype-stable oracle compare.
    */
  val jsonMapQ: Relational.Q = (s, d) => {
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.LongType))
    events(s, d)
      .repartitionByRange(s.sparkContext.defaultParallelism, col("event_id"))
      .select(col("event_id"),
        array_join(map_keys(m), ",").as("keys_csv"),
        size(map_keys(m)).cast("long").as("n_keys"),
        element_at(m, "k").as("k"))
      .orderBy("event_id")
  }

  /** JSON extraction feeding an aggregation. */
  val jsonAggQ: Relational.Q = (s, d) =>
    events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        round(avg("k"), 4).as("avg_k"))
      .orderBy("event_type")

  /** E1: ordered conversion funnel view → click → purchase, counted per
    * stage. Each stage's entry time is the user's first qualifying
    * event STRICTLY AFTER the previous stage's entry (µs-truncated ts,
    * per the module's oracle-comparison rule). Three aggregations + two
    * joins, all keyed on user_id — co-partitioned, one shuffle family,
    * no per-user collect; the shape holds when the event table is the
    * 100 TB side.
    */
  val funnelQ: Relational.Q = (s, d) => {
    val e = events(s, d).select(col("user_id"),
      expr("ts div 1000").as("tsu"), col("event_type"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tsu").as("t1"))
    val t2 = e.filter(col("event_type") === "click").join(t1, "user_id")
      .filter(col("tsu") > col("t1"))
      .groupBy("user_id").agg(min("tsu").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase").join(t2, "user_id")
      .filter(col("tsu") > col("t2"))
      .groupBy("user_id").agg(min("tsu").as("t3"))
    t1.select(lit("1_view").as("stage"), col("user_id"))
      .union(t2.select(lit("2_view_click").as("stage"), col("user_id")))
      .union(t3.select(lit("3_view_click_purchase").as("stage"), col("user_id")))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }

  /** E2: cohort retention — users grouped by the epoch-day of their
    * first event; for every (cohort, day-offset) cell, how many of the
    * cohort's users were active. Two aggregations + one join, all
    * keyed on user_id then (cohort, offset) — the classic retention
    * triangle without any per-user driver loop. Day boundaries are
    * integer nanos-div-86400e9 here and epoch_us-div-86400e6 in the
    * oracle: the same integer for every timestamp after 1970.
    */
  val retentionQ: Relational.Q = (s, d) => {
    val e = events(s, d)
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    val cohorts = e.groupBy("user_id").agg(min("day").as("cohort"))
    e.join(cohorts, "user_id")
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
      .agg(countDistinct("user_id").as("users"))
      .orderBy("cohort", "day_offset")
  }

  /** E3: daily + rolling-7-day active users per day (DAU/WAU). The
    * rolling distinct can't sit in a window frame (count DISTINCT over
    * RANGE isn't supported — and at scale a per-day distinct-merge is
    * the wrong shape anyway); instead the deduplicated (day, user) pairs
    * range-join the tiny day dimension (each pair lands in ≤7 day
    * windows — bounded fan-out, broadcast dim, one aggregation keyed on
    * the day). DAU rides the same aggregation via a conditional
    * distinct.
    */
  val activeUsersQ: Relational.Q = (s, d) => {
    val e = events(s, d)
      .select(expr("ts div 86400000000000").as("day"), col("user_id"))
      .distinct()
    val days = e.select(col("day").as("day_end")).distinct()
    e.join(broadcast(days),
        col("day") > col("day_end") - 7 && col("day") <= col("day_end"))
      .groupBy("day_end")
      .agg(
        countDistinct(when(col("day") === col("day_end"), col("user_id")))
          .as("dau"),
        countDistinct("user_id").as("wau"))
      .orderBy("day_end")
  }

  val queries: Map[String, Relational.Q] = Map(
    "q_e1_funnel" -> funnelQ,
    "q_e2_retention" -> retentionQ,
    "q_e3_active_users" -> activeUsersQ,
    "q_asof_join" -> asofQ,
    "q_sessionize" -> sessionizeQ,
    "q_range_join" -> rangeJoinQ,
    "q_json_extract" -> jsonExtractQ,
    "q_json_agg" -> jsonAggQ,
    "q_json_map" -> jsonMapQ,
  )

  val oracleSql: Map[String, String] = Map(
    "q_e3_active_users" ->
      """WITH e AS (
        |  SELECT DISTINCT epoch_us(ts)//86400000000 AS day, user_id FROM events
        |),
        |days AS (SELECT DISTINCT day AS day_end FROM e)
        |SELECT d.day_end,
        |       count(DISTINCT CASE WHEN e.day = d.day_end THEN e.user_id END) AS dau,
        |       count(DISTINCT e.user_id) AS wau
        |FROM e JOIN days d ON e.day > d.day_end - 7 AND e.day <= d.day_end
        |GROUP BY 1 ORDER BY day_end""".stripMargin,
    "q_e2_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts)//86400000000 AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id)
        |SELECT c.cohort, e.day - c.cohort AS day_offset,
        |       count(DISTINCT e.user_id) AS users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
    // epoch_us(ts) == Spark's `ts div 1000` of the nanos column
    "q_e1_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events),
        |t1 AS (SELECT user_id, min(tsu) AS t1 FROM e WHERE event_type = 'view'
        |       GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.tsu) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.tsu > t1.t1 GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.tsu) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.tsu > t2.t2 GROUP BY e.user_id),
        |stages AS (
        |  SELECT '1_view' AS stage, user_id FROM t1
        |  UNION ALL SELECT '2_view_click', user_id FROM t2
        |  UNION ALL SELECT '3_view_click_purchase', user_id FROM t3
        |)
        |SELECT stage, count(*) AS n_users FROM stages
        |GROUP BY stage ORDER BY stage""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, s.event_id AS signup_event_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') e
        |ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events
        |), y AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM x
        |), z AS (
        |  SELECT user_id, event_id, value,
        |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM y
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(event_id) AS first_event, max(event_id) AS last_event,
        |       round(sum(value), 2) AS session_value
        |FROM z GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_range_join" ->
      """SELECT b.bucket::BIGINT AS bucket, count(*) AS n, round(sum(e.value), 2) AS total
        |FROM events e
        |JOIN (SELECT DISTINCT p_size AS bucket FROM part) b
        |  ON e.value >= b.bucket * 10 AND e.value < b.bucket * 10 + 10
        |GROUP BY b.bucket ORDER BY bucket""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_json_map" ->
      """SELECT event_id,
        |       array_to_string(json_keys(props), ',') AS keys_csv,
        |       len(json_keys(props))::BIGINT AS n_keys,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_json_agg" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
