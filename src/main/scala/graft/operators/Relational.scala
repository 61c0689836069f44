package graft.operators

import graft.core.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The reference's general query surface (RxDB Mango dialect, SURVEY §2.2)
  * plus the relational operators Spark gives for free, exercised over the
  * driver's TPC-H-ish tables so each one is DuckDB-oracle checkable.
  *
  * Query-name convention: `q_<inventoryId>_<short>` where inventoryId is
  * the SURVEY §2 row (p1..p11 predicates, o1/o4 sort-limit-skip, u1..u3
  * set ops, j1..j3 joins, s5/s9 scans, w* windows, agg* aggregations).
  *
  * Determinism contract with the DuckDB oracle (see Verify.scala): every
  * query ends in a total ORDER BY, every computed column is aliased
  * identically on both sides, and every float aggregate is rounded on
  * both sides so cross-engine summation-order differences cannot flip the
  * hash.
  *
  * Scale notes (100 TB posture):
  *  - filters/projections here are plain Catalyst plans → pushed to the
  *    parquet scan (verified via .explain in RelationalSpec);
  *  - every join against a dimension table uses an explicit `broadcast`
  *    hint so the big fact side never shuffles;
  *  - fact-fact joins (orders⋈lineitem) shuffle on the join key — at
  *    cluster scale both sides would be bucketed on orderkey, which
  *    removes that shuffle entirely; the query code is layout-agnostic.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- P1-P11

  /** P1 `$eq` — `field: value` equality (reference normalizes bare match
    * to `$eq`, SURVEY §2.2 P1). */
  val p1Eq: Q = (s, d) =>
    lineitem(s, d).filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  /** P2 `$ne`. */
  val p2Ne: Q = (s, d) =>
    orders(s, d).filter(col("o_orderstatus") =!= "O")
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")

  /** P3 `$gt/$gte/$lt/$lte` — range predicates; these are exactly what the
    * reference's kNN index scan issues (src/search.ts:30-33) and they must
    * reach the parquet scan as pushed filters. */
  val p3Range: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** P4 `$in`. */
  val p4In: Q = (s, d) =>
    customer(s, d).filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select("c_custkey", "c_mktsegment").orderBy("c_custkey")

  /** P4 `$nin`. */
  val p4Nin: Q = (s, d) =>
    customer(s, d).filter(!col("c_mktsegment").isin("BUILDING", "MACHINERY", "FURNITURE"))
      .select("c_custkey", "c_mktsegment").orderBy("c_custkey")

  /** P5 `$and/$or/$not/$nor` boolean combinators. */
  val p5Bool: Q = (s, d) =>
    part(s, d).filter(
      (col("p_size") < 15 || col("p_brand") === "Brand#3") &&
        !(col("p_type") === "PROMO") &&
        !(col("p_size") === 10 || col("p_size") === 11))
      .select("p_partkey", "p_size", "p_brand", "p_type").orderBy("p_partkey")

  /** P6 `$mod`. */
  val p6Mod: Q = (s, d) =>
    orders(s, d).filter(col("o_orderkey") % 7 === 3)
      .select("o_orderkey").orderBy("o_orderkey")

  /** P7 `$regex`. */
  val p7Regex: Q = (s, d) =>
    part(s, d).filter(col("p_name").rlike("^(co|sm).*t$"))
      .select("p_partkey", "p_name").orderBy("p_partkey")

  /** P8 `$elemMatch` — array element satisfies a sub-predicate, via the
    * codegen'd `exists` higher-order function (no UDF). */
  val p8ElemMatch: Q = (s, d) =>
    embeddings(s, d)
      .filter(exists(col("embedding"), x => x > lit(0.28)))
      .select(col("vec_id"),
        size(filter(col("embedding"), x => x > lit(0.28))).cast("long").as("n_hits"))
      .orderBy("vec_id")

  /** P9 `$size` — array length. */
  val p9Size: Q = (s, d) =>
    embeddings(s, d).filter(size(col("embedding")) === 64)
      .agg(count(lit(1)).as("n"))

  /** P10 `$exists` — field presence (fixed schema ⇒ non-null check). */
  val p10Exists: Q = (s, d) =>
    events(s, d).filter(col("props").isNotNull && col("value").isNotNull)
      .agg(count(lit(1)).as("n"))

  // ------------------------------------------------------- scans S5/S9

  /** S5/S6 point lookup by primary keys (reference findDocumentsById /
    * findByIds). isin over a partition-pruned scan; at scale this is a
    * broadcast semi-join against the id list. */
  val s5PointLookup: Q = (s, d) =>
    embeddings(s, d).filter(col("vec_id").isin(1, 5, 9, 42, 99))
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .orderBy("vec_id")

  /** S9/A1 `count()` over a range query — no row materialization; Spark
    * answers from parquet footer stats + pushed predicate. */
  val s9Count: Q = (s, d) =>
    lineitem(s, d).filter(col("l_quantity").between(10, 20))
      .agg(count(lit(1)).as("cnt"))

  // ------------------------------------------------- sorts/limits O1-O4

  /** O1/O2/O3 sort + deterministic pk tie-break + limit
    * (TakeOrderedAndProject — no global sort materialization). */
  val o1SortLimit: Q = (s, d) =>
    events(s, d).orderBy(col("value").desc, col("event_id").asc)
      .select("event_id", "event_type", "value").limit(50)

  /** O4 skip/offset — reference dexie slice [skip, skip+limit). */
  val o4Offset: Q = (s, d) =>
    events(s, d).orderBy(col("value").desc, col("event_id").asc)
      .select("event_id", "value").offset(100).limit(50)

  // ----------------------------------------------------- set ops U1-U3

  /** U1 union + dedup-by-key (the candidate-union of the reference's kNN,
    * src/search.ts:21-37 — SQL UNION, not UNION ALL). */
  val u1UnionDedup: Q = (s, d) => {
    val o = orders(s, d)
    o.filter(col("o_totalprice") > 400000).select("o_custkey")
      .union(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
      .distinct().orderBy("o_custkey")
  }

  /** U2 intersect (free in Spark; absent-but-trivial in reference). */
  val u2Intersect: Q = (s, d) => {
    val o = orders(s, d)
    o.filter(col("o_totalprice") > 300000).select("o_custkey")
      .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy("o_custkey")
  }

  /** U3 except. */
  val u3Except: Q = (s, d) => {
    val o = orders(s, d)
    o.select("o_custkey").distinct()
      .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
      .orderBy("o_custkey")
  }

  // --------------------------------------------------------- joins J1-J3

  /** J2 anti-join — the reference's skip-already-embedded idempotence
    * pattern (src/database.ts:184-192): orders with NO high-quantity line. */
  val j2Anti: Q = (s, d) =>
    orders(s, d).join(
      lineitem(s, d).filter(col("l_quantity") > 45),
      col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select("o_orderkey").orderBy("o_orderkey")

  /** J3' semi-join — EXISTS. */
  val j3Semi: Q = (s, d) =>
    customer(s, d).join(
      orders(s, d).filter(col("o_orderstatus") === "F"),
      col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey").orderBy("c_custkey")

  /** Inner equi-join fact→broadcast dim + aggregate. */
  val joinInnerAgg: Q = (s, d) =>
    orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(round(sum("o_totalprice"), 2).as("total"), count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  /** Left outer join keeping zero-order customers. */
  val joinLeftOuter: Q = (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** Σ l_extendedprice·(1 − l_discount) rounded to cents. Both inputs
    * carry two decimals, so the sum is taken EXACTLY as a 4-place
    * decimal, rounded once and cast back to double; a double sum ends
    * on a half cent for ~1% of groups, where engines that add in
    * different orders round it apart. [[RevenueCentsSql]] is the
    * oracle's form of the same value.
    */
  def revenueCents: Column =
    round(sum(col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1) - col("l_discount").cast("decimal(12,2)"))), 2).cast("double")
  val RevenueCentsSql: String =
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE)"

  /** Multi-way star join (TPC-H Q5 shape): all dimension sides broadcast,
    * only the orders⋈lineitem fact-fact edge shuffles (bucketing on
    * orderkey removes even that at warehouse scale). */
  val joinMultiStar: Q = (s, d) =>
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier(s, d)),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(revenueCents.as("revenue"))
      .orderBy("n_name")

  // ------------------------------------------------------- aggregations

  /** Flagship TPC-H Q1-shaped aggregation: partial (map-side) agg then
    * final — one shuffle on the two low-cardinality grouping keys. */
  val q1Agg: Q = (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Grouping-sets rollup (NULL group slots coalesced identically on both
    * sides so the oracle hash is order/null-safe). */
  val aggRollup: Q = (s, d) =>
    lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("qty"), col("n"))
      .orderBy("flag", "status")

  /** Distinct aggregate. */
  val aggDistinct: Q = (s, d) =>
    lineitem(s, d).groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_supps"))
      .orderBy("l_returnflag")

  /** Per-group top-k via the custom bounded-heap aggregate
    * ([[graft.functions.TopKRows]], a `TypedImperativeAggregate` over
    * raw rows): map-side partial aggregation means only k rows per
    * group per partition reach the shuffle — the scale-correct form of
    * the window-function top-k that `q_w1_rank` demonstrates (its
    * DuckDB oracle IS the window formulation, so the two
    * implementations verify each other). The typed-Aggregator sibling
    * [[graft.functions.TopKByScore]] computes the same thing through
    * encoders; TopKAggSpec proves them equal — this query uses the
    * imperative one because the encoder round-trip per input row
    * dominated the typed version (~3x slower at sf0.1).
    */
  val a2TopkAgg: Q = (s, d) =>
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(graft.functions.TopKRows.topK(
        col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"), 5).as("tops"))
      .select(col("l_returnflag"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("l_returnflag"),
        col("t.id1").as("l_orderkey"),
        col("t.id2").as("l_linenumber"),
        col("t.score").as("l_extendedprice"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("l_returnflag", "rn")

  /** Approximate distinct counting (HLL sketch) — the cardinality
    * estimator a 100 TB pipeline uses where exact distinct would
    * shuffle everything. Sketch VALUES are engine-specific, so the
    * oracle-checked row emits, per group, the exact count plus a
    * boolean attesting the engine's OWN sketch landed within a generous
    * 10% of its OWN exact count — the attestation is deterministic on
    * both engines (each sketch sits well inside the band: Spark HLL++
    * at rsd 0.02, DuckDB HLL at ~2%), so the row hash-matches. The
    * bundled exact countDistinct is the correctness HARNESS, not the
    * serving plan — a pipeline runs the approx-only aggregate (whose
    * true error AdvancedSpec measures against 3× rsd, a far tighter
    * band than the attestation's).
    */
  /** Opt r20: pre-deduplicate on (flag, partkey) instead of mixing the
    * distinct and sketch aggregates in one Aggregate. The mixed form
    * planned through RewriteDistinctAggregates' Expand — every scan row
    * emitted twice (one projection per aggregate class) — and the final
    * 3-group phase did the heavy merging. The explicit `.distinct()`
    * dedups map-side across every scan partition, then one ordinary
    * aggregate counts rows (= countDistinct) and sketches partkey.
    * The HLL++ sketch is IDENTICAL bit-for-bit on the deduplicated
    * input: registers take a max over hashed values, so duplicate
    * partkeys are no-ops and merge order cannot change the register
    * state — approx, exact, and the attested boolean all hash-match
    * the previous form.
    */
  val aggApproxDistinct: Q = (s, d) =>
    lineitem(s, d)
      .select(col("l_returnflag").as("flag"), col("l_partkey"))
      .distinct()
      .groupBy("flag")
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
        count(lit(1)).as("exact_parts"))
      .select(col("flag"), col("exact_parts"),
        (abs(col("approx") - col("exact_parts")) <= col("exact_parts") * 0.1)
          .as("within_bound"))
      .orderBy("flag")

  /** Exact per-group median via explicit rank arithmetic (avg of the
    * middle one/two elements). Deliberately NOT percentile()/
    * quantile_cont(): their interpolation conventions differ across
    * engines, while this formulation is the same integer selection +
    * one avg everywhere.
    */
  /** Opt r21: the rank selection ran through
    * `Window.partitionBy(event_type)` — a |groups|-task whole-group
    * sort at any scale (the r20 VERDICT's "audit q_agg_median for the
    * same shape"). The two middle ranks now come from the distributed
    * histogram selection ([[graft.operators.RankSelect.selectAtRanks]]).
    * Equivalence: the original filtered the rows at ranks
    * floor((n+1)/2) and floor((n+2)/2) and averaged `value` — for odd
    * n both formulas name the SAME rank, so ONE row survived and
    * avg = v, which equals (v+v)/2 exactly (v+v is an exact double
    * ×2, /2 exact); for even n two rows survived and avg = (v1+v2)/2,
    * the same IEEE expression. Tie runs make the rank's value
    * identical whatever the old event_id tiebreak placed there, so the
    * rounded median and the oracle hash are unchanged.
    */
  val aggMedian: Q = (s, d) => {
    graft.operators.RankSelect.selectAtRanks(
        events(s, d).select("event_type", "value"),
        Seq("event_type"), "value",
        Seq(
          "v1" -> (n => floor((n + 1) / 2.0).cast("long")),
          "v2" -> (n => floor((n + 2) / 2.0).cast("long"))))
      .select(col("event_type"),
        round((col("v1") + col("v2")) / 2.0, 4).as("median_value"),
        col("n"))
      .orderBy("event_type")
  }

  /** Pivot table (crosstab): per-user event-type counts as columns —
    * Spark's `pivot` with an explicit value list compiles to one
    * hash aggregation, no per-column scans.
    */
  val aggPivot: Q = (s, d) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(s, d)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0, types)
      .orderBy("user_id")
  }

  // ------------------------------------------------------------ windows

  /** W1 ranking window — top-3 orders per customer. */
  val w1Rank: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** W2 running aggregate over event time per key (µs-truncated
    * ordering key — see w3LagLead's precision note). */
  val w2Running: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts div 1000").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .withColumn("running", round(sum(col("value")).over(w), 2))
      .select("user_id", "event_id", "running")
      .orderBy("user_id", "event_id")
  }

  /** W3: lead/lag analytics — neighboring events per user. Payloads are
    * integer ids only, and the window orders on the MICROSECOND-
    * truncated ts: Spark (nanosAsLong) sees full nanoseconds while
    * DuckDB timestamps are microsecond-precision, so ordering on raw ns
    * would break ties differently than the oracle whenever two events
    * collide within the same microsecond. Truncating the ordering key
    * makes both engines resolve every tie via event_id, data
    * notwithstanding. (Time DIFFERENCES stay out of the payload for the
    * same truncation-boundary reason.)
    */
  val w3LagLead: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
      .orderBy(expr("ts div 1000").asc, col("event_id").asc)
    events(s, d)
      .withColumn("prev_event", lag("event_id", 1).over(w))
      .withColumn("next_event", lead("event_id", 1).over(w))
      .withColumn("prev_value", lag("value", 1).over(w))
      .select("user_id", "event_id", "prev_event", "next_event", "prev_value")
      .orderBy("user_id", "event_id")
  }

  // --------------------------------------------------------- registration

  val queries: Map[String, Q] = Map(
    "q1_agg" -> q1Agg,
    "q_p1_eq" -> p1Eq,
    "q_p2_ne" -> p2Ne,
    "q_p3_range" -> p3Range,
    "q_p4_in" -> p4In,
    "q_p4_nin" -> p4Nin,
    "q_p5_bool" -> p5Bool,
    "q_p6_mod" -> p6Mod,
    "q_p7_regex" -> p7Regex,
    "q_p8_elemmatch" -> p8ElemMatch,
    "q_p9_size" -> p9Size,
    "q_p10_exists" -> p10Exists,
    "q_s5_point_lookup" -> s5PointLookup,
    "q_s9_count" -> s9Count,
    "q_o1_sort_limit" -> o1SortLimit,
    "q_o4_offset" -> o4Offset,
    "q_u1_union_dedup" -> u1UnionDedup,
    "q_u2_intersect" -> u2Intersect,
    "q_u3_except" -> u3Except,
    "q_j2_anti" -> j2Anti,
    "q_j3_semi" -> j3Semi,
    "q_join_inner_agg" -> joinInnerAgg,
    "q_join_left_outer" -> joinLeftOuter,
    "q_join_multi_star" -> joinMultiStar,
    "q_agg_rollup" -> aggRollup,
    "q_agg_distinct" -> aggDistinct,
    "q_a2_topk_agg" -> a2TopkAgg,
    "q_agg_approx_distinct" -> aggApproxDistinct,
    "q_agg_pivot" -> aggPivot,
    "q_agg_median" -> aggMedian,
    "q_w1_rank" -> w1Rank,
    "q_w2_running" -> w2Running,
    "q_w3_lag_lead" -> w3LagLead,
  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_p1_eq" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_p2_ne" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus <> 'O' ORDER BY o_orderkey""".stripMargin,
    "q_p3_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_p4_in" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment IN ('BUILDING','MACHINERY') ORDER BY c_custkey""".stripMargin,
    "q_p4_nin" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment NOT IN ('BUILDING','MACHINERY','FURNITURE')
        |ORDER BY c_custkey""".stripMargin,
    "q_p5_bool" ->
      """SELECT p_partkey, p_size, p_brand, p_type FROM part
        |WHERE (p_size < 15 OR p_brand = 'Brand#3') AND NOT (p_type = 'PROMO')
        |  AND NOT (p_size = 10 OR p_size = 11)
        |ORDER BY p_partkey""".stripMargin,
    "q_p6_mod" ->
      "SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 3 ORDER BY o_orderkey",
    "q_p7_regex" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE regexp_matches(p_name, '^(co|sm).*t$') ORDER BY p_partkey""".stripMargin,
    "q_p8_elemmatch" ->
      """SELECT vec_id, len(list_filter(embedding, x -> x > 0.28)) AS n_hits
        |FROM embeddings
        |WHERE len(list_filter(embedding, x -> x > 0.28)) > 0
        |ORDER BY vec_id""".stripMargin,
    "q_p9_size" ->
      "SELECT count(*) AS n FROM embeddings WHERE len(embedding) = 64",
    "q_p10_exists" ->
      "SELECT count(*) AS n FROM events WHERE props IS NOT NULL AND value IS NOT NULL",
    "q_s5_point_lookup" ->
      """SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
        |WHERE vec_id IN (1,5,9,42,99) ORDER BY vec_id""".stripMargin,
    "q_s9_count" ->
      "SELECT count(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 10 AND 20",
    "q_o1_sort_limit" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY value DESC, event_id ASC LIMIT 50""".stripMargin,
    "q_o4_offset" ->
      """SELECT event_id, value FROM events
        |ORDER BY value DESC, event_id ASC LIMIT 50 OFFSET 100""".stripMargin,
    "q_u1_union_dedup" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,
    "q_u2_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_totalprice > 300000
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_u3_except" ->
      """SELECT DISTINCT o_custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q_j2_anti" ->
      """SELECT o_orderkey FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin,
    "q_j3_semi" ->
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_inner_agg" ->
      """SELECT c_mktsegment, round(sum(o_totalprice),2) AS total, count(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_left_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_join_multi_star" ->
      s"""SELECT n_name,
        | $RevenueCentsSql AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey  = c_custkey
        |JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_agg_rollup" ->
      """SELECT coalesce(l_returnflag,'ALL') AS flag,
        |       coalesce(l_linestatus,'ALL') AS status,
        |       round(sum(l_quantity),2) AS qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_parts,
        |       count(DISTINCT l_suppkey) AS nd_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // each engine attests its OWN sketch against its OWN exact count —
    // the boolean is deterministic even though the sketch values differ
    "q_agg_approx_distinct" ->
      """SELECT l_returnflag AS flag,
        |       count(DISTINCT l_partkey) AS exact_parts,
        |       abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
        |         <= count(DISTINCT l_partkey) * 0.1 AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_agg_median" ->
      """WITH r AS (
        |  SELECT event_type, value, event_id,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value ASC, event_id ASC) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |)
        |SELECT event_type, round(avg(value), 4) AS median_value, max(n) AS n
        |FROM r
        |WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
        |   OR rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_agg_pivot" ->
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type = 'click') AS click,
        |       count(*) FILTER (WHERE event_type = 'error') AS error,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |       count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_a2_topk_agg" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin,
    "q_w1_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_w3_lag_lead" ->
      """SELECT user_id, event_id,
        |       lag(event_id) OVER w AS prev_event,
        |       lead(event_id) OVER w AS next_event,
        |       lag(value) OVER w AS prev_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_w2_running" ->
      """SELECT user_id, event_id,
        |       round(sum(value) OVER (PARTITION BY user_id
        |                              ORDER BY ts ASC, event_id ASC
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin,
  )
}
