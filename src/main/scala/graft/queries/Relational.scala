package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operator coverage (SURVEY.md §2.3–2.5): projection,
  * filter pushdown, joins (broadcast + shuffle), aggregation, windows,
  * versioned-dedup ranking, set ops, rollup/grouping sets, distinct,
  * CTE/subquery, JSON extraction, top-k.
  *
  * Oracle-parity rules used throughout:
  *  - double aggregates go through fixed-point longs ([[fx]]): exact and
  *    order-independent like DECIMAL(38,s), but the sum stays a codegen'd
  *    long aggregation — measured 2.3× faster than decimal sums at sf0.1
  *    (PlanLab: 1.61s decimal vs 0.68s long vs 0.23s raw double on q01);
  *  - every query ends with a deterministic total ORDER BY;
  *  - null ordering is made explicit wherever nulls can appear (Spark
  *    defaults NULLS FIRST on ASC, DuckDB defaults NULLS LAST).
  */
object Relational {

  /** floor(x·1e4 + 0.5) as a long: both engines compute the identical
    * IEEE product, add, and floor, so the scaled integers — and therefore
    * the sums — are bit-identical BY CONSTRUCTION (no reliance on the
    * engines' round() tie/negative semantics agreeing). floor of a plain
    * double expression also stays inside whole-stage codegen, where
    * Spark's round() allocates a BigDecimal per row — 0.28s vs 0.63s on
    * q01 at sf0.1 (PlanLab). Overflow bound: |Σ x·1e4| < 2^63 ≈ 9.2e18,
    * i.e. ~9e9 rows of 1e5-valued prices per group (ANSI mode raises
    * rather than wraps); beyond that use DECIMAL(38) sums. */
  private def fx(c: Column): Column = floor(c * 1e4 + 0.5).cast("long")

  /** The matching DuckDB-side text for [[fx]] sums. */
  private def fxSql(expr: String): String =
    s"CAST(SUM(CAST(FLOOR(($expr) * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4"

  /** q21's sessionization core, shared with t93: the 30-min event-time
    * gap rule over (us, event_id)-ordered per-user streams. ONE
    * definition in each engine — adds `us`, `session_seq` to `events`
    * rows. All windows key on user_id (never global). */
  private[queries] def sessionized(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("boundary",
        when(lag("us", 1).over(w).isNull ||
          col("us") - lag("us", 1).over(w) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("boundary").over(run))
      .drop("boundary")
  }

  /** DuckDB CTE text for [[sessionized]]: relation `s` with `us` and
    * `session_seq` next to event_id/user_id and `extraCols`. */
  private[queries] def sessionizedDuck(extraCols: Seq[String]): String = {
    val extra = extraCols.map(c => s"$c, ").mkString
    s"""e AS (
       |  SELECT event_id, user_id, ${extra}epoch_us(ts) AS us
       |  FROM events),
       |b AS (
       |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
       |    OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
       |    AS boundary
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |s AS (
       |  SELECT *, CAST(SUM(boundary) OVER (
       |      PARTITION BY user_id ORDER BY us, event_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
       |  FROM b)""".stripMargin
  }

  import Tables.t

  val defs: Map[String, QueryDef] = Map(

    // ----------------------------------------------------------------- q01
    // TPC-H Q1-style pricing summary: wide aggregation, map-side combine.
    "q01_agg_pricing" -> QueryDef(
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            (sum(fx(col("l_quantity"))).cast("double") / 1e4).as("sum_qty"),
            (sum(fx(col("l_extendedprice"))).cast("double") / 1e4).as("sum_base_price"),
            (sum(fx(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .cast("double") / 1e4).as("sum_disc_price"),
            (sum(fx(col("l_extendedprice") * (lit(1) - col("l_discount")) *
              (lit(1) + col("l_tax")))).cast("double") / 1e4).as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
             |  ${fxSql("l_quantity")} AS sum_qty,
             |  ${fxSql("l_extendedprice")} AS sum_base_price,
             |  ${fxSql("l_extendedprice*(1-l_discount)")} AS sum_disc_price,
             |  ${fxSql("l_extendedprice*(1-l_discount)*(1+l_tax)")} AS sum_charge,
             |  COUNT(*) AS count_order
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ----------------------------------------------------------------- q02
    // Selective filter + narrow projection — exercises parquet predicate
    // pushdown and column pruning (ReadSchema should be 4 columns).
    "q02_filter_project" -> QueryDef(
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount") >= 0.05 && col("l_quantity") < 25)
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate <  TIMESTAMP '1997-01-01'
             |  AND l_discount >= 0.05 AND l_quantity < 25
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ----------------------------------------------------------------- q03
    // Aggregate-then-join + broadcast dimension + top-k.
    "q03_join_topk" -> QueryDef(
      (spark, dir) => {
        val rev = t(spark, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg((sum(fx(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("double") / 1e4).as("revenue"))
        // no broadcast() hint on customer: it is SF-PROPORTIONAL (unlike
        // nation/region), and a forced broadcast ignores size — at
        // warehouse scale that is a driver OOM, not an optimization.
        // Below the threshold Spark broadcasts it on its own; past it
        // AQE picks the join side at runtime (r17, found by the 30×
        // tpch probe where the hint forced a 9.5 MB broadcast).
        rev.join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(spark, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_name"), col("revenue"), col("o_orderdate"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT o_orderkey, c_name, revenue, o_orderdate
             |FROM (SELECT l_orderkey,
             |        ${fxSql("l_extendedprice*(1-l_discount)")} AS revenue
             |      FROM lineitem GROUP BY l_orderkey) r
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY revenue DESC, o_orderkey
             |LIMIT 10""".stripMargin)),

    // ----------------------------------------------------------------- q04
    // Versioned dedup ranking — the engine's own operator (SURVEY §2.5):
    // ROW_NUMBER over (key) ORDER BY version DESC, keep rank 1.
    "q04_dedup_rank" -> QueryDef(
      (spark, dir) => {
        // rank-1 by event_id DESC ≡ max(event_id) + max_by(value,
        // event_id) — event_id is unique per group, so both pick the
        // same row deterministically. Primitive agg buffers keep this a
        // map-side-combinable HashAggregate (a struct-max would fall to
        // SortAggregate) whose exchange carries one row per (key, map
        // partition) instead of the window's full corpus sort (r21; the
        // oracle keeps the ROW_NUMBER spelling — same rows by
        // construction).
        t(spark, dir, "events")
          .groupBy("user_id", "event_type")
          .agg(max(col("event_id")).as("latest_event_id"),
            max_by(col("value"), col("event_id")).as("latest_value"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, event_id AS latest_event_id, value AS latest_value
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS __rank__
             |      FROM events) ranked
             |WHERE __rank__ = 1
             |ORDER BY user_id, event_type""".stripMargin)),

    // ----------------------------------------------------------------- q05
    // Set operations: INTERSECT / EXCEPT / UNION ALL.
    "q05_setops" -> QueryDef(
      (spark, dir) => {
        val c = t(spark, dir, "customer")
          .select(col("c_nationkey").as("nationkey"))
        val s = t(spark, dir, "supplier")
          .select(col("s_nationkey").as("nationkey"))
        val both = c.intersect(s).withColumn("tag", lit("both"))
        val custOnly = c.except(s).withColumn("tag", lit("cust_only"))
        both.unionByName(custOnly)
          .select("tag", "nationkey")
          .orderBy("tag", "nationkey")
      },
      Some("""SELECT 'both' AS tag, nationkey FROM
             |  (SELECT c_nationkey AS nationkey FROM customer
             |   INTERSECT SELECT s_nationkey AS nationkey FROM supplier)
             |UNION ALL
             |SELECT 'cust_only' AS tag, nationkey FROM
             |  (SELECT c_nationkey AS nationkey FROM customer
             |   EXCEPT SELECT s_nationkey AS nationkey FROM supplier)
             |ORDER BY tag, nationkey""".stripMargin)),

    // ----------------------------------------------------------------- q06
    // ROLLUP with explicit null ordering.
    "q06_rollup" -> QueryDef(
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            (sum(fx(col("l_quantity"))).cast("double") / 1e4).as("qty"))
          .orderBy(col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |  ${fxSql("l_quantity")} AS qty
             |FROM lineitem
             |GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // ----------------------------------------------------------------- q07
    // Semi + anti join (EXISTS / NOT EXISTS) combined per segment.
    "q07_semi_anti" -> QueryDef(
      (spark, dir) => {
        val cust = t(spark, dir, "customer")
        val ord = t(spark, dir, "orders")
        val withO = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n_with_orders"))
        val withoutO = cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n_without_orders"))
        withO.join(withoutO, Seq("c_mktsegment"), "full_outer")
          .select(col("c_mktsegment"),
            coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
            coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
          .orderBy("c_mktsegment")
      },
      // CAST to BIGINT: DuckDB's SUM returns HUGEINT, which pandas renders
      // as float64 and breaks the driver's typed hash vs Spark's int64.
      Some("""SELECT c_mktsegment,
             |  CAST(COALESCE(SUM(CASE WHEN has_o THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_with_orders,
             |  CAST(COALESCE(SUM(CASE WHEN has_o THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_without_orders
             |FROM (SELECT c_mktsegment,
             |        EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
             |      FROM customer) t
             |GROUP BY c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)),

    // ----------------------------------------------------------------- q08
    // JSON string extraction (events.props) + aggregation.
    "q08_json_extract" -> QueryDef(
      (spark, dir) =>
        t(spark, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .filter(col("k") > 50)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            (sum(fx(col("value"))).cast("double") / 1e4).as("sum_value"))
          .orderBy("event_type"),
      Some(s"""SELECT event_type, COUNT(*) AS n,
             |  ${fxSql("value")} AS sum_value
             |FROM events
             |WHERE CAST(json_extract_string(props, '$$.k') AS INTEGER) > 50
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ----------------------------------------------------------------- q09
    // Window analytics: row_number, lag, running sum with explicit frame.
    "q09_window_running" -> QueryDef(
      (spark, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(spark, dir, "orders")
          .filter(col("o_custkey") < 100)
          .withColumn("rn", row_number().over(w))
          .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
          .withColumn("running_spend",
            sum(fx(col("o_totalprice")))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double") / 1e4)
          .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            "rn", "prev_price", "running_spend")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             |  ROW_NUMBER() OVER w AS rn,
             |  LAG(o_totalprice, 1) OVER w AS prev_price,
             |  CAST(SUM(CAST(FLOOR(o_totalprice * 1e4 + 0.5) AS BIGINT)) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e4 AS running_spend
             |FROM orders
             |WHERE o_custkey < 100
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, rn""".stripMargin)),

    // ----------------------------------------------------------------- q10
    // DISTINCT projection.
    "q10_distinct" -> QueryDef(
      (spark, dir) =>
        t(spark, dir, "orders")
          .select("o_orderstatus", "o_orderpriority")
          .distinct()
          .orderBy("o_orderstatus", "o_orderpriority"),
      Some("""SELECT DISTINCT o_orderstatus, o_orderpriority
             |FROM orders
             |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    // ----------------------------------------------------------------- q11
    // CTE + correlated comparison against a per-group aggregate.
    // Same SQL text runs on Spark and DuckDB (shared-dialect subset);
    // avg computed as exact decimal sum / count for bit-identical doubles.
    "q11_cte_above_avg" -> QueryDef(
      (spark, dir) => {
        Tables.registerAll(spark, dir)
        spark.sql(
          """WITH nat_avg AS (
            |  SELECT c_nationkey,
            |    CAST(SUM(CAST(FLOOR(c_acctbal * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 / COUNT(*) AS avg_bal
            |  FROM customer GROUP BY c_nationkey)
            |SELECT c.c_nationkey, COUNT(*) AS n_above
            |FROM customer c JOIN nat_avg a ON c.c_nationkey = a.c_nationkey
            |WHERE c.c_acctbal > a.avg_bal
            |GROUP BY c.c_nationkey
            |ORDER BY c.c_nationkey""".stripMargin)
      },
      Some("""WITH nat_avg AS (
             |  SELECT c_nationkey,
             |    CAST(SUM(CAST(FLOOR(c_acctbal * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 / COUNT(*) AS avg_bal
             |  FROM customer GROUP BY c_nationkey)
             |SELECT c.c_nationkey, COUNT(*) AS n_above
             |FROM customer c JOIN nat_avg a ON c.c_nationkey = a.c_nationkey
             |WHERE c.c_acctbal > a.avg_bal
             |GROUP BY c.c_nationkey
             |ORDER BY c.c_nationkey""".stripMargin)),

    // ----------------------------------------------------------------- q12
    // GROUPING SETS with grouping() disambiguation.
    "q12_grouping_sets" -> QueryDef(
      (spark, dir) => {
        Tables.registerAll(spark, dir)
        spark.sql(
          """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
            |FROM orders
            |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
            |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // ----------------------------------------------------------------- q13
    // Multi-way star join with two broadcast dims + selective agg
    // (TPC-H Q5 flavored, minus region filter narrowing).
    "q13_star_join" -> QueryDef(
      (spark, dir) => {
        val l = t(spark, dir, "lineitem")
        val o = t(spark, dir, "orders")
        val c = t(spark, dir, "customer")
        val n = t(spark, dir, "nation")
        val r = t(spark, dir, "region")
        // partial aggregate BELOW the joins (the star-aggregate rewrite
        // Catalyst won't derive): lineitem collapses to one row per
        // orderkey on the same l_orderkey shuffle the join needed
        // anyway, so the orders/customer joins move orders-sized rows,
        // not lineitem-sized (~4:1 here; far more on a real warehouse).
        // fx sums are exact longs, so sum-of-partial-sums and
        // count=sum(cnt) are bit-identical to the flat aggregation —
        // the oracle keeps the flat spelling and the gate re-proves it.
        val lagg = l.groupBy("l_orderkey")
          .agg(sum(fx(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("rev_fx"), count(lit(1)).as("cnt"))
        lagg.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg((sum(col("rev_fx")).cast("double") / 1e4).as("revenue"),
            sum(col("cnt")).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name,
             |  ${fxSql("l_extendedprice*(1-l_discount)")} AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name
             |ORDER BY r_name, n_name""".stripMargin)),

    // ----------------------------------------------------------------- q14
    // Conditional aggregation (CASE inside agg) — TPC-H Q14 flavor.
    "q14_case_agg" -> QueryDef(
      (spark, dir) =>
        t(spark, dir, "part")
          .join(t(spark, dir, "lineitem"), col("p_partkey") === col("l_partkey"))
          .groupBy("p_brand")
          .agg(
            (sum(when(col("p_type").startsWith("PROMO"),
              fx(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .otherwise(lit(0L))).cast("double") / 1e4).as("promo_revenue"),
            (sum(fx(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .cast("double") / 1e4).as("total_revenue"))
          .orderBy("p_brand"),
      Some(s"""SELECT p_brand,
             |  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
             |        THEN CAST(FLOOR(l_extendedprice*(1-l_discount) * 1e4 + 0.5) AS BIGINT)
             |        ELSE 0 END) AS DOUBLE) / 1e4 AS promo_revenue,
             |  ${fxSql("l_extendedprice*(1-l_discount)")} AS total_revenue
             |FROM part JOIN lineitem ON p_partkey = l_partkey
             |GROUP BY p_brand
             |ORDER BY p_brand""".stripMargin)),

    // ----------------------------------------------------------------- q15
    // Time bucketing on event time (batch window()) — per-day counts.
    "q15_time_bucket" -> QueryDef(
      (spark, dir) =>
        t(spark, dir, "events")
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(fx(col("value"))).cast("double") / 1e4).as("sum_value"))
          .orderBy("day", "event_type"),
      Some(s"""SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
             |  ${fxSql("value")} AS sum_value
             |FROM events
             |GROUP BY CAST(ts AS DATE), event_type
             |ORDER BY day, event_type""".stripMargin)),

    // ----------------------------------------------------------------- q16
    // AS-OF join (graft.operators.AsOf): each click matched to the user's
    // latest prior-or-simultaneous purchase. The oracle is DuckDB's
    // NATIVE ASOF JOIN — the Spark side composes the same semantics as a
    // single-pass window (see AsOf scaladoc for the scale rationale).
    // Purchases are deduped per (user, ts) so ties are deterministic in
    // both engines.
    "q16_asof_join" -> QueryDef(
      (spark, dir) => {
        val ev = t(spark, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts")
        val purchases = ev.filter(col("event_type") === "purchase")
          .groupBy("user_id", "ts").agg(max("event_id").as("p_event_id"))
        graft.operators.AsOf.join(clicks, purchases, Seq("user_id"),
            "ts", "ts", Seq("p_event_id"))
          .select(col("event_id"), col("user_id"),
            col("asof_p_event_id").as("matched_purchase"))
          .orderBy("event_id")
      },
      Some("""WITH clicks AS (
             |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
             |purchases AS (
             |  SELECT user_id, ts, MAX(event_id) AS p_event_id
             |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
             |SELECT c.event_id, c.user_id, p.p_event_id AS matched_purchase
             |FROM clicks c ASOF LEFT JOIN purchases p
             |  ON c.user_id = p.user_id AND c.ts >= p.ts
             |ORDER BY event_id""".stripMargin)),

    // ----------------------------------------------------------------- q17
    // Exact interpolated quantiles: Spark percentile ≡ DuckDB
    // quantile_cont (same sorted-interpolation definition → bit-identical
    // doubles, verified at sf0.01). The at-scale variant is
    // percentile_approx (t-digest), which trades the full sort for a
    // mergeable sketch — different algorithm than DuckDB's, so the exact
    // form is what the cross-engine gate pins.
    "q17_quantiles" -> QueryDef(
      (spark, dir) => {
        Tables.registerAll(spark, dir)
        spark.sql("""
          |SELECT event_type,
          |  percentile(value, 0.25) AS q25,
          |  percentile(value, 0.5)  AS q50,
          |  percentile(value, 0.75) AS q75
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type,
             |  quantile_cont(value, 0.25) AS q25,
             |  quantile_cont(value, 0.5)  AS q50,
             |  quantile_cont(value, 0.75) AS q75
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ----------------------------------------------------------------- q18
    // Multiple DISTINCT aggregates in one pass (Catalyst Expand: each row
    // fans out per distinct group — one shuffle, not one job per column).
    "q18_count_distinct" -> QueryDef(
      (spark, dir) => {
        // one narrow agg per distinct column instead of a single 4-way
        // Expand: Expand pushes 4× the row count through partial agg in
        // one pass, while each separate agg scans a pruned 2-int-column
        // projection and shuffles only its own deduped keys — measured
        // 0.9 s vs 1.4 s at sf0.1 (Q18Lab); the 3-row joins broadcast
        val li = t(spark, dir, "lineitem")
        def cd(c: String, as: String) =
          li.select("l_returnflag", c).groupBy("l_returnflag")
            .agg(countDistinct(col(c)).as(as))
        // null-SAFE join keys: a NULL group key is a legal group in both
        // engines' GROUP BY, and a plain equi-join would drop its row.
        // (rename before joining — all sides share li's lineage, so
        // attribute-based conditions would be ambiguous/trivially true)
        def merge(a: DataFrame, b: DataFrame): DataFrame = {
          val bb = b.withColumnRenamed("l_returnflag", "__rf")
          a.join(bb, col("l_returnflag") <=> col("__rf")).drop("__rf")
        }
        Seq(cd("l_suppkey", "n_supps"), cd("l_orderkey", "n_orders"),
            li.groupBy("l_returnflag").agg(count(lit(1)).as("n_rows")))
          .foldLeft(cd("l_partkey", "n_parts"))(merge)
          .select("l_returnflag", "n_parts", "n_supps", "n_orders", "n_rows")
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  COUNT(DISTINCT l_partkey) AS n_parts,
             |  COUNT(DISTINCT l_suppkey) AS n_supps,
             |  COUNT(DISTINCT l_orderkey) AS n_orders,
             |  COUNT(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ----------------------------------------------------------------- q19
    // PIVOT: priorities → columns. Spark's relational pivot compiles to a
    // single pass of conditional aggregation (no per-column scans); the
    // oracle spells the same thing with FILTER. Counts coalesce to 0 so
    // absent combinations agree across engines.
    "q19_pivot" -> QueryDef(
      (spark, dir) => {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val aliases = Seq("p1_urgent", "p2_high", "p3_medium", "p4_notspec", "p5_low")
        val pivoted = t(spark, dir, "orders")
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority", prios)
          .agg(count(lit(1)))
        pivoted.select(col("o_orderstatus") +:
          prios.zip(aliases).map { case (p, a) =>
            coalesce(col(s"`$p`"), lit(0L)).as(a) }: _*)
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1_urgent,
             |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2_high,
             |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3_medium,
             |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4_notspec,
             |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5_low
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ----------------------------------------------------------------- q20
    // UNPIVOT: metrics → rows via stack() (Spark's unpivot generator —
    // one pass, no self-union of the aggregate).
    "q20_unpivot" -> QueryDef(
      (spark, dir) =>
        t(spark, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).cast("double").as("n_orders"),
            (sum(fx(col("o_totalprice"))).cast("double") / 1e4).as("total_price"))
          .selectExpr("o_orderstatus",
            "stack(2, 'n_orders', n_orders, 'total_price', total_price) AS (metric, value)")
          .orderBy("o_orderstatus", "metric"),
      Some(s"""WITH agg AS (
             |  SELECT o_orderstatus,
             |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
             |    ${fxSql("o_totalprice")} AS total_price
             |  FROM orders GROUP BY o_orderstatus)
             |SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM agg
             |UNION ALL
             |SELECT o_orderstatus, 'total_price', total_price FROM agg
             |ORDER BY o_orderstatus, metric""".stripMargin)),

    // ----------------------------------------------------------------- q21
    // Batch SESSIONIZATION over the events stream — the batch twin of
    // graft.streaming.Streams.sessionize (same 30-minute event-time gap
    // rule): a session boundary is a gap > 30 min since the user's
    // previous event; session id = running boundary count per user. The
    // windows partition by user_id (millions of keys at scale — no skew,
    // no global window), gap math is integer µs, and value sums use the
    // fixed-point long trick so doubles are partition-order-independent.
    // session_seq is a windowed SUM reaching the output → CAST BIGINT in
    // the oracle (HUGEINT rule).
    "q21_sessionize" -> QueryDef(
      (spark, dir) => {
        sessionized(t(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"), col("value")))
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n_events"),
            min("ts").as("started"), max("ts").as("ended"),
            (sum(fx(col("value"))).cast("double") / 1e4).as("total_value"))
          .orderBy("user_id", "session_seq")
      },
      Some(s"""WITH ${sessionizedDuck(Seq("ts", "value"))}
              |SELECT user_id, session_seq, COUNT(*) AS n_events,
              |  MIN(ts) AS started, MAX(ts) AS ended,
              |  ${fxSql("value")} AS total_value
              |FROM s GROUP BY user_id, session_seq
              |ORDER BY user_id, session_seq""".stripMargin))
  )
}
