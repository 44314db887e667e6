package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Q, QueryPack, Tables, TopK}

/** Relational operator inventory (SURVEY.md §2) expressed over the driver
  * testdata, one query per operator family, each with a DuckDB oracle.
  *
  * Determinism rules (required for the driver's hash-compare vs DuckDB):
  *  - Never sum raw doubles across rows: cast each row to an exact
  *    `DECIMAL` first, sum the decimals (exact, order-independent), cast
  *    the final value to `DOUBLE`. IEEE ops on identical scalar operands
  *    are bit-deterministic; only reductions over floats are order-sensitive.
  *  - double→DECIMAL casts diverge between engines: Spark rounds the
  *    double's SHORTEST decimal representation (Java `Double.toString`)
  *    HALF_UP, while DuckDB rounds the exact binary expansion — e.g.
  *    0.615 (binary ≈0.61499999…) → 0.62 in Spark, 0.61 in DuckDB. Every
  *    oracle therefore routes the cast through VARCHAR —
  *    `CAST(CAST(x AS VARCHAR) AS DECIMAL(p,s))` — which forces DuckDB
  *    through the same shortest-repr string (shortest round-trip digits
  *    are unique for a given double, so the two engines then round the
  *    identical decimal literal).
  *  - No `avg()` (DuckDB computes it in doubles): derive exact sum / count.
  *  - `collect_set` arrays are `array_sort`ed on both sides (SURVEY §7.4).
  *  - Row-level outputs carry an ORDER BY on a unique key on both sides.
  *
  * Scale notes (100 TB design intent, verified via `.explain`):
  *  - Filters/projections stay in the parquet scan (PushedFilters/ReadSchema).
  *  - Small dimensions (region/nation/supplier) are broadcast explicitly;
  *    fact-fact joins shuffle on their join key and rely on AQE for skew.
  *  - Aggregations are partial+final hash aggregates (map-side combine) —
  *    nothing here collects to the driver.
  */
object RelationalQueries extends QueryPack {

  private def dec(c: Column, scale: Int = 2): Column =
    c.cast(s"decimal(18,$scale)")

  /** Exact decimal sum of a per-row double expression. Output stays
    * DECIMAL(38,scale) — matching DuckDB's SUM(DECIMAL) result type —
    * because casting wide decimals (>2^52) to double rounds differently
    * across engines (DuckDB divides an int128 by 10^scale in double
    * arithmetic; Spark converts the exact BigDecimal correctly-rounded).
    */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(dec(c, scale)).cast("decimal(38," + scale + ")")

  /** Exact decimal sum serialized for the gate frame. DECIMAL must never
    * leave a gate query: the driver's compare stringifies cell values, and
    * Spark's Decimal prints full scale ("184968.00") while DuckDB 1.0's
    * pandas conversion turns DECIMAL into float64 (shortest repr,
    * "184968.0") — so any value with trailing zeros hash-mismatches even
    * though the math agrees decimal-exactly. Serializing to VARCHAR on
    * BOTH sides (oracle: `CAST(SUM(...) AS VARCHAR)`) makes the strings
    * identical; the decimals stay exact inside the plan.
    */
  private def dsumStr(c: Column, scale: Int = 2): Column =
    dsum(c, scale).cast("string")

  /** Gaps-and-islands session labeling shared by q19/q25/q28 (and
    * mirrored by EventsStream.sessionizeBatch and the q19 oracle): adds
    * `sess_id` to a (user_id, us, ...) frame — sessions close on a
    * 30-minute inactivity gap. ONE place owns the gap rule, so the
    * batch, stream, range-join and overlap-join pins cannot silently
    * diverge on the boundary (`>` vs `>=`) or the constant. */
  private val SessionGapUs = 30L * 60L * 1000000L

  private def withSessionIds(e: DataFrame,
      gapUs: Long = SessionGapUs): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    e.withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_us", "brk")
  }

  /** Session (start_us, end_us) spans per (user_id, sess_id). */
  private def sessionSpans(events: DataFrame): DataFrame =
    withSessionIds(events
        .select(col("user_id"), unix_micros(col("ts")).as("us")))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"))

  def queries: Seq[Q] = Seq(
    // ---- A1/A5/P5: scan → pushed filter → partial+final hash aggregate.
    Q("q01_pricing_summary",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsumStr(col("l_quantity")).as("sum_qty"),
            dsumStr(col("l_extendedprice")).as("sum_base_price"),
            dsumStr(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
              .as("sum_disc_price"),
            // scale 8: the product has up to 6 decimal digits (2dp price ×
            // 2dp discount × 2dp tax); casting at a scale beyond the exact
            // decimal content avoids engine-specific midpoint rounding.
            dsumStr(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax")), 8).as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
             | CAST(SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(18,2))) AS VARCHAR) AS sum_base_price,
             | CAST(SUM(CAST(CAST(l_extendedprice * (1.0 - l_discount) AS VARCHAR) AS DECIMAL(18,4))) AS VARCHAR) AS sum_disc_price,
             | CAST(SUM(CAST(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS VARCHAR) AS DECIMAL(18,8))) AS VARCHAR) AS sum_charge,
             | COUNT(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- P2/P5: projection + aliasing + pushed predicates, row-level math.
    Q("q02_filter_project",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05 &&
            col("l_shipdate").between(
              lit("1996-01-01").cast("timestamp"),
              lit("1997-12-31").cast("timestamp")))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").as("qty"),
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
              .as("revenue"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity AS qty,
             | ROUND(l_extendedprice * (1.0 - l_discount), 4) AS revenue
             |FROM lineitem
             |WHERE l_quantity > 45 AND l_discount >= 0.05
             | AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
             |  AND TIMESTAMP '1997-12-31 00:00:00'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ---- J1: 5-way star join; tiny dims broadcast, fact-fact shuffle join.
    Q("q03_star_join_revenue",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation")
        val r = Tables(s, dir, "region")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "EUROPE")
          .groupBy(col("n_name"))
          .agg(
            dsumStr(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
              .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name,
             | CAST(SUM(CAST(CAST(l_extendedprice * (1.0 - l_discount) AS VARCHAR) AS DECIMAL(18,4))) AS VARCHAR) AS revenue,
             | COUNT(*) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'EUROPE'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ---- J3: left outer join preserving customers with zero orders.
    Q("q04_left_join_count",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_mktsegment"))
          .agg(count(col("o_orderkey")).as("n_orders"),
            dsumStr(coalesce(col("o_totalprice"), lit(0.0))).as("spend"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment, COUNT(o_orderkey) AS n_orders,
             | CAST(SUM(CAST(CAST(COALESCE(o_totalprice, 0.0) AS VARCHAR) AS DECIMAL(18,2))) AS VARCHAR) AS spend
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin)),

    // ---- J7: left-anti join (referential-integrity / NOT EXISTS shape).
    Q("q05_anti_join",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // ---- left-semi join (EXISTS shape).
    Q("q06_semi_join",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // ---- A2: ARRAY_AGG(DISTINCT) ≡ collect_set, array_sorted then
    // serialized to a delimited string: the driver's oracle gate sorts
    // result frames in pandas, which cannot hash array cells — so the
    // array stays inside the plan and only its canonical string leaves.
    Q("q07_collect_set",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), "|")
              .as("priorities"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment,
             | array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
             | COUNT(*) AS n_orders
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- A6: group-count-HAVING (dbt `unique` test compiled shape).
    Q("q08_having_unique",
      (s, dir) => {
        Tables(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"))
          .filter(col("n") > 15)
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey, COUNT(*) AS n FROM orders
             |GROUP BY o_custkey HAVING COUNT(*) > 15
             |ORDER BY o_custkey""".stripMargin)),

    // ---- F1-F6: coalesce / concat / cast / CASE / boolean predicates.
    Q("q09_scalar_funcs",
      (s, dir) => {
        Tables(s, dir, "customer")
          .select(
            col("c_custkey"),
            concat(col("c_name"), lit(" ["), col("c_mktsegment"), lit("]"))
              .as("label"),
            when(col("c_acctbal") < 0, "negative")
              .when(col("c_acctbal") < 5000, "low")
              .otherwise("high").as("bal_band"),
            coalesce(when(col("c_mktsegment") =!= "BUILDING",
              col("c_mktsegment")), lit("B")).as("seg_short"),
            col("c_nationkey").cast("string").as("nation_str"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey,
             | c_name || ' [' || c_mktsegment || ']' AS label,
             | CASE WHEN c_acctbal < 0 THEN 'negative'
             |      WHEN c_acctbal < 5000 THEN 'low'
             |      ELSE 'high' END AS bal_band,
             | COALESCE(CASE WHEN c_mktsegment <> 'BUILDING' THEN c_mktsegment END, 'B') AS seg_short,
             | CAST(c_nationkey AS VARCHAR) AS nation_str
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ---- window ranking: top-3 orders per customer, deterministic ties.
    Q("q10_window_topk",
      (s, dir) => {
        TopK.perKey(Tables(s, dir, "orders"), Seq(col("o_custkey")),
            Seq(col("o_orderdate"), col("o_orderkey")), 3, "rn")
          .select(col("o_custkey"), col("o_orderkey"), col("rn"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, rn FROM (
             | SELECT o_custkey, o_orderkey,
             |  ROW_NUMBER() OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey) AS rn
             | FROM orders) t
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // ---- window running aggregate (exact decimal frame sum). The frame
    // order must be TOTAL for the running values to be engine-independent:
    // the testdata contains duplicate (l_orderkey, l_linenumber) rows at
    // sf0.1, so l_quantity joins the sort key — and if that too ties, the
    // tied rows contribute equal addends, making the prefix sums
    // order-invariant anyway.
    Q("q11_window_running",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            sum(dec(col("l_quantity"))).over(w).cast("decimal(38,2)")
              .cast("string").as("running_qty"))
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             | CAST(CAST(SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,2))) OVER (
             |   PARTITION BY l_suppkey
             |   ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |  AS DECIMAL(38,2)) AS VARCHAR) AS running_qty
             |FROM lineitem
             |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)),

    // ---- set operators: UNION DISTINCT / INTERSECT / EXCEPT.
    Q("q12_set_ops",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val buyers = Tables(s, dir, "orders")
          .filter(col("o_totalprice") > 50000)
          .select(col("o_custkey").as("k"))
        val building = c.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("k"))
        val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey").as("k"))
        building.union(auto).distinct()
          .intersect(buyers)
          .except(c.filter(col("c_acctbal") < 0).select(col("c_custkey").as("k")))
          .orderBy(col("k"))
      },
      Some("""(SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
             | UNION
             | SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
             |INTERSECT
             |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 50000
             |EXCEPT
             |SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0
             |ORDER BY k""".stripMargin)),

    // ---- ROLLUP grouping sets (subtotals + grand total).
    Q("q13_rollup",
      (s, dir) => {
        Tables(s, dir, "orders")
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsumStr(col("o_totalprice")).as("total"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n"), col("total"))
          .orderBy(col("status"), col("priority"))
      },
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             | COALESCE(o_orderpriority, 'ALL') AS priority,
             | COUNT(*) AS n,
             | CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2))) AS VARCHAR) AS total
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // ---- CUBE grouping sets (all 2^k subtotal combinations — completes
    // the rollup/grouping-sets/cube trio). One Expand + one hash agg,
    // the same shuffle count as a plain GROUP BY at 4× the row fan-out.
    Q("q37_cube",
      (s, dir) => {
        Tables(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsumStr(col("o_totalprice")).as("total"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n"), col("total"))
          .orderBy(col("status"), col("priority"))
      },
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             | COALESCE(o_orderpriority, 'ALL') AS priority,
             | COUNT(*) AS n,
             | CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2))) AS VARCHAR) AS total
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // ---- exact COUNT(DISTINCT) (expand-based distinct aggregate).
    Q("q14_distinct_agg",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
             | COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- P6 accepted_range data-test shape: count of violating rows.
    Q("q15_range_check",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .filter(col("l_quantity").isNotNull &&
            (col("l_quantity") < 1 || col("l_quantity") > 50))
          .agg(count(lit(1)).as("violations"))
      },
      Some("""SELECT COUNT(*) AS violations FROM lineitem
             |WHERE l_quantity IS NOT NULL
             | AND (l_quantity < 1 OR l_quantity > 50)""".stripMargin)),

    // ---- calendar bucketing: month truncation + aggregate.
    Q("q16_month_agg",
      (s, dir) => {
        Tables(s, dir, "orders")
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg(count(lit(1)).as("n_orders"),
            dsumStr(col("o_totalprice")).as("total"))
          .orderBy(col("month"))
      },
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             | COUNT(*) AS n_orders,
             | CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2))) AS VARCHAR) AS total
             |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),

    // ---- events: hourly tumbling buckets + conditional aggregation.
    Q("q17_events_hourly",
      (s, dir) => {
        Tables(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("hour"))
          .agg(
            count(lit(1)).as("n_events"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("n_clicks"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("n_purchases"),
            dsumStr(col("value"), 4).as("sum_value"))
          .orderBy(col("hour"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
             | COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks,
             | COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
             | CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4))) AS VARCHAR) AS sum_value
             |FROM events GROUP BY 1 ORDER BY hour""".stripMargin)),

    // ---- JSON extraction from semi-structured props column.
    Q("q18_json_extract",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(col("event_id"),
            get_json_object(col("props"), "$.k").cast("bigint").as("k"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("k"))
      },
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             | COUNT(*) AS n
             |FROM events GROUP BY 1 ORDER BY k""".stripMargin)),

    // ---- Sessionization (gaps-and-islands): lag window → break flags →
    // running-sum session ids → per-session aggregate. The batch twin of
    // streaming/EventsStream.sessionize (flatMapGroupsWithState), pinned
    // equal to it by EventsStreamSpec. Shuffles once on user_id; both
    // windows and the aggregate reuse that partitioning.
    Q("q19_sessionize",
      (s, dir) => {
        withSessionIds(Tables(s, dir, "events")
            .select(col("user_id"), unix_micros(col("ts")).as("us"),
              col("value")))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
            count(lit(1)).as("n_events"),
            dsumStr(col("value")).as("sum_value"))
          .orderBy(col("user_id"), col("sess_id"))
      },
      // Oracle: DuckDB's window SUM(int) yields HUGEINT, which its pandas
      // layer renders as float64 ("3.0" vs Spark's "3") — sess_id is
      // therefore pinned to BIGINT at the window.
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
             |  FROM events),
             |g AS (
             |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |      OR us - lag(us) OVER w > 1800000000
             |    THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |s AS (
             |  SELECT *, CAST(SUM(brk) OVER (
             |    PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
             |  FROM g)
             |SELECT user_id, sess_id,
             |  MIN(us) AS start_us, MAX(us) AS end_us,
             |  COUNT(*) AS n_events,
             |  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_value
             |FROM s GROUP BY 1, 2 ORDER BY user_id, sess_id""".stripMargin)),

    // ---- Skew-salted join (operators/Skew.scala): result must be
    // byte-identical to the plain inner join — the oracle IS the plain
    // join, so this query proves the salting rewrite changes only the
    // partitioning, never the semantics.
    Q("q20_salted_join",
      (s, dir) => {
        val joined = Skew.saltedJoin(
          Tables(s, dir, "orders"), Tables(s, dir, "customer"),
          "o_custkey", "c_custkey", col("o_orderkey"), salts = 8)
        joined.groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("decimal(38,2)").cast("string").as("total"))
          .orderBy(col("segment"))
      },
      Some("""SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
             | CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |GROUP BY 1 ORDER BY segment""".stripMargin)),

    // ---- Bucketed co-located join (operators/Bucketing.scala): both
    // fact tables written bucketBy+sortBy the join key, so the join runs
    // as a per-bucket merge with NO Exchange and no Sort (plan property
    // pinned by BucketingSpec) — and the result must equal the plain
    // shuffled join, which IS the oracle, so this gate proves the layout
    // rewrite changes only data movement, never semantics.
    Q("q27_bucketed_join",
      (s, dir) => {
        Bucketing.writeBucketed(
          Tables(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
          "bkt_orders", "o_orderkey", buckets = 8)
        Bucketing.writeBucketed(
          Tables(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_quantity")),
          "bkt_lineitem", "l_orderkey", buckets = 8)
        Bucketing.table(s, "bkt_orders")
          .join(Bucketing.table(s, "bkt_lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_lines"),
            dsumStr(col("l_quantity")).as("sum_qty"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_lines,
             | CAST(SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // ---- Percentiles: exact interpolated percentile (both engines sort
    // and interpolate with a + (b-a)·f over the same doubles).
    Q("q22_quantiles",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            percentile(col("l_quantity"), lit(0.5)).as("p50_qty"),
            percentile(col("l_quantity"), lit(0.95)).as("p95_qty"),
            percentile(col("l_extendedprice"), lit(0.9)).as("p90_price"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             | quantile_cont(l_quantity, 0.5) AS p50_qty,
             | quantile_cont(l_quantity, 0.95) AS p95_qty,
             | quantile_cont(l_extendedprice, 0.9) AS p90_price
             |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // ---- Pivot: wide conditional aggregation (the BI matrix shape);
    // the oracle spells out the equivalent CASE aggregation.
    Q("q23_pivot",
      (s, dir) => {
        Tables(s, dir, "orders")
          .groupBy(col("o_orderstatus").as("status"))
          .pivot("o_orderpriority",
            Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .agg(count(lit(1)))
          .select(col("status"),
            coalesce(col("1-URGENT"), lit(0L)).as("urgent"),
            coalesce(col("2-HIGH"), lit(0L)).as("high"),
            coalesce(col("3-MEDIUM"), lit(0L)).as("medium"),
            coalesce(col("4-NOT SPECIFIED"), lit(0L)).as("not_specified"),
            coalesce(col("5-LOW"), lit(0L)).as("low"))
          .orderBy(col("status"))
      },
      Some("""SELECT o_orderstatus AS status,
             | COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
             | COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
             | COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
             | COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
             | COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
             |FROM orders GROUP BY 1 ORDER BY status""".stripMargin)),

    // ---- As-of join (operators/AsofJoin.scala): each purchase picks up
    // the latest click at-or-before it per user — the point-in-time
    // operator Spark lacks, expressed as one union + window shuffle
    // instead of a range join. Both join sides carry time as epoch
    // MICROS (unix_micros), as do q25/q28 — one unit across the whole
    // interval-join family. Oracle: DuckDB's native ASOF LEFT JOIN.
    Q("q24_asof_join",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
        // One click per (user, instant): max value — keeps the match
        // deterministic when several clicks share a timestamp.
        val clicks = e.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("us"))
          .agg(max(col("value")).as("click_value"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("us"))
        AsofJoin.asofJoin(purchases, clicks, "user_id", "us")
          .select(col("event_id"), col("user_id"), col("us"),
            col("asof_us").as("click_us"), col("asof_click_value")
              .as("click_value"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
             |  FROM events),
             |c AS (
             |  SELECT user_id, us, MAX(value) AS click_value
             |  FROM e WHERE event_type = 'click' GROUP BY 1, 2),
             |p AS (
             |  SELECT event_id, user_id, us FROM e
             |  WHERE event_type = 'purchase')
             |SELECT p.event_id, p.user_id, p.us,
             |  c.us AS click_us, c.click_value
             |FROM p ASOF LEFT JOIN c
             |  ON p.user_id = c.user_id AND p.us >= c.us
             |ORDER BY p.event_id""".stripMargin)),

    // ---- Range (interval-containment) join: assign each event to the
    // session interval that contains it. Spark would execute the naive
    // `e.us BETWEEN s.start AND s.end` join as a broadcast-nested-loop
    // per key group; instead the intervals are replicated once per
    // overlapped hour bucket and the probe becomes an EQUI-join on
    // (user, bucket) + a residual range filter — bounded duplication
    // (interval length / bucket width), one hash shuffle, AQE-friendly.
    // Each event has exactly one bucket, so no post-join dedup is needed.
    Q("q25_range_join",
      (s, dir) => {
        val bucketUs = 3600L * 1000000L
        val sess = sessionSpans(Tables(s, dir, "events"))
          .withColumn("bucket", explode(sequence(
            floor(col("start_us") / bucketUs).cast("long"),
            floor(col("end_us") / bucketUs).cast("long"))))
        val ev = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"))
          .withColumn("bucket", floor(col("us") / bucketUs).cast("long"))
        ev.join(sess, Seq("user_id", "bucket"))
          .filter(col("us").between(col("start_us"), col("end_us")))
          .select(col("event_id"), col("user_id"), col("us"),
            col("sess_id"), col("start_us"), col("end_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |g AS (
             |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |      OR us - lag(us) OVER w > 1800000000
             |    THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |sx AS (
             |  SELECT *, CAST(SUM(brk) OVER (
             |    PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
             |  FROM g),
             |sess AS (
             |  SELECT user_id, sess_id,
             |    MIN(us) AS start_us, MAX(us) AS end_us
             |  FROM sx GROUP BY 1, 2)
             |SELECT e.event_id, e.user_id, e.us,
             |  s.sess_id, s.start_us, s.end_us
             |FROM e JOIN sess s
             |  ON e.user_id = s.user_id
             |  AND e.us BETWEEN s.start_us AND s.end_us
             |ORDER BY e.event_id""".stripMargin)),

    // ---- Interval-OVERLAP join (q25's containment sibling — the next
    // thing a real events user asks for): per-user session intervals ×
    // ±30-minute windows around each purchase, every pair that overlaps
    // in time. Same bucketization as q25 — both interval sets replicate
    // once per overlapped hour bucket, and the probe is an EQUI-join on
    // (user, bucket) + the residual overlap predicate. Unlike
    // containment, an overlapping PAIR can share several buckets, which
    // would duplicate it; each pair is emitted only in the FIRST bucket
    // both sides inhabit (the greater of the two start buckets), so no
    // post-join distinct and no second shuffle. Replication stays
    // bounded by interval length / bucket width; time on both sides is
    // epoch MICROS (the q24/q25 unit).
    Q("q28_interval_overlap_join",
      (s, dir) => {
        val bucketUs = 3600L * 1000000L
        val gapUs = SessionGapUs
        val sess = sessionSpans(Tables(s, dir, "events"))
          .withColumn("bucket", explode(sequence(
            floor(col("start_us") / bucketUs).cast("long"),
            floor(col("end_us") / bucketUs).cast("long"))))
        val pw = Tables(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            (unix_micros(col("ts")) - gapUs).as("w_start"),
            (unix_micros(col("ts")) + gapUs).as("w_end"))
          .withColumn("bucket", explode(sequence(
            floor(col("w_start") / bucketUs).cast("long"),
            floor(col("w_end") / bucketUs).cast("long"))))
        sess.join(pw, Seq("user_id", "bucket"))
          .filter(col("start_us") <= col("w_end") &&
            col("w_start") <= col("end_us"))
          .filter(col("bucket") === greatest(
            floor(col("start_us") / bucketUs).cast("long"),
            floor(col("w_start") / bucketUs).cast("long")))
          .select(col("user_id"), col("sess_id"), col("start_us"),
            col("end_us"), col("purchase_id"), col("w_start"), col("w_end"))
          .orderBy(col("user_id"), col("sess_id"), col("purchase_id"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |g AS (
             |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |      OR us - lag(us) OVER w > 1800000000
             |    THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |sx AS (
             |  SELECT *, CAST(SUM(brk) OVER (
             |    PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
             |  FROM g),
             |sess AS (
             |  SELECT user_id, sess_id,
             |    MIN(us) AS start_us, MAX(us) AS end_us
             |  FROM sx GROUP BY 1, 2),
             |pw AS (
             |  SELECT event_id AS purchase_id, user_id,
             |    us - 1800000000 AS w_start, us + 1800000000 AS w_end
             |  FROM e WHERE event_type = 'purchase')
             |SELECT s.user_id, s.sess_id, s.start_us, s.end_us,
             |  p.purchase_id, p.w_start, p.w_end
             |FROM sess s JOIN pw p
             |  ON s.user_id = p.user_id
             |  AND s.start_us <= p.w_end AND p.w_start <= s.end_us
             |ORDER BY s.user_id, s.sess_id, p.purchase_id""".stripMargin)),

    // ---- Ordered funnel (sequential pattern): users who signed up, then
    // clicked at-or-after the signup, then purchased at-or-after that
    // click. Each stage is one aggregate on the previous stage's
    // survivors — all three shuffles share the user_id key, so the
    // exchanges line up and the stage frames stay small (survivors only).
    Q("q26_funnel_steps",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
        val s2 = e.filter(col("event_type") === "click")
          .join(s1, "user_id").filter(col("us") >= col("t1"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
        val s3 = e.filter(col("event_type") === "purchase")
          .join(s2, "user_id").filter(col("us") >= col("t2"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
        s1.agg(count(lit(1)).as("n_users"))
          .select(lit("1_signup").as("step"), col("n_users"))
          .unionByName(s2.agg(count(lit(1)).as("n_users"))
            .select(lit("2_click").as("step"), col("n_users")))
          .unionByName(s3.agg(count(lit(1)).as("n_users"))
            .select(lit("3_purchase").as("step"), col("n_users")))
          .orderBy(col("step"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |s1 AS (
             |  SELECT user_id, MIN(us) AS t1 FROM e
             |  WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (
             |  SELECT e.user_id, MIN(e.us) AS t2 FROM e
             |  JOIN s1 ON e.user_id = s1.user_id
             |  WHERE e.event_type = 'click' AND e.us >= s1.t1 GROUP BY 1),
             |s3 AS (
             |  SELECT e.user_id, MIN(e.us) AS t3 FROM e
             |  JOIN s2 ON e.user_id = s2.user_id
             |  WHERE e.event_type = 'purchase' AND e.us >= s2.t2 GROUP BY 1)
             |SELECT '1_signup' AS step, COUNT(*) AS n_users FROM s1
             |UNION ALL
             |SELECT '2_click', COUNT(*) FROM s2
             |UNION ALL
             |SELECT '3_purchase', COUNT(*) FROM s3
             |ORDER BY step""".stripMargin)),

    // ---- UNPIVOT/melt: the wide→long reshape (metrics-per-column into
    // (metric, value) rows — what a BI or feature-store export needs
    // after an aggregation). Spark's native unpivot keeps the reshape
    // inside the stage (a local Expand, no shuffle); the oracle is
    // DuckDB's UNPIVOT on the same aggregate. Values serialize to
    // VARCHAR under the decimal gate rule.
    Q("q29_unpivot",
      (s, dir) => {
        val agg = Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("string").as("sum_qty"),
            count(lit(1)).cast("string").as("n_lines"),
            countDistinct(col("l_orderkey")).cast("string")
              .as("n_orders"))
        agg.unpivot(
            Array(col("l_returnflag")),
            Array(col("sum_qty"), col("n_lines"), col("n_orders")),
            "metric", "value")
          .orderBy(col("l_returnflag"), col("metric"))
      },
      Some("""WITH agg AS (
             |  SELECT l_returnflag,
             |    CAST(SUM(CAST(CAST(l_quantity AS VARCHAR)
             |      AS DECIMAL(18,2))) AS VARCHAR) AS sum_qty,
             |    CAST(COUNT(*) AS VARCHAR) AS n_lines,
             |    CAST(COUNT(DISTINCT l_orderkey) AS VARCHAR) AS n_orders
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, metric, value FROM agg
             |UNPIVOT (value FOR metric IN (sum_qty, n_lines, n_orders))
             |ORDER BY l_returnflag, metric""".stripMargin)),

    // ---- GROUPING SETS with grouping_id: the generalized rollup — the
    // exact subtotal combinations a dashboard wants ((flag, status),
    // (flag), (status), ()) in ONE pass over the fact table (Spark
    // Expand + single hash agg — four scans collapsed into one).
    // grouping_id disambiguates NULL-as-subtotal from NULL data.
    Q("q30_grouping_sets",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        li.createOrReplaceTempView("q30_lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus,
                |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
                |    AS gid,
                |  COUNT(*) AS n,
                |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS STRING)
                |    AS sum_qty
                |FROM q30_lineitem
                |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                |  (l_returnflag), (l_linestatus), ())
                |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             | COUNT(*) AS n,
             | CAST(SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,2)))
             |   AS VARCHAR) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |  (l_returnflag), (l_linestatus), ())
             |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // ---- Ranking-window tier ops: NTILE quartiles + percent_rank over
    // customer balances per segment — the BI cohorting pattern (spend
    // quartiles, percentile bands). One window shuffle keyed by the
    // segment; percent_rank rounds to 6dp before the hash compare.
    Q("q31_ntile_quartiles",
      (s, dir) => {
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal"), col("c_custkey"))
        Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal").cast("string").as("acctbal"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pct_rank"))
          .orderBy(col("c_mktsegment"), col("quartile"), col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment,
             | CAST(c_acctbal AS VARCHAR) AS acctbal,
             | NTILE(4) OVER w AS quartile,
             | ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
             |FROM customer
             |WINDOW w AS (PARTITION BY c_mktsegment
             |  ORDER BY c_acctbal, c_custkey)
             |ORDER BY c_mktsegment, quartile, c_custkey""".stripMargin)),

    // ---- Distinct-count sketch (HLL++): the 100 TB cardinality path —
    // one pass, fixed memory, mergeable partials — next to the exact
    // count it approximates. Sketch internals are engine-specific, so no
    // cross-engine oracle; ExtensionSpec pins the 2% default error bound
    // and equality with the single-agg countDistinct formulation.
    //
    // The exact arm is a MANUAL two-level aggregate rather than
    // `countDistinct` beside the sketch: Spark plans mixed
    // distinct/non-distinct aggregates through Expand (doubling every
    // input row) into a sort-aggregate whose final stage is one task
    // per group — with 3 return flags that's a 2N-row sort landing on 3
    // tasks. Here the dedup is a hash shuffle on (flag, orderkey) with
    // map-side partial dedup, and the counts reduce through partials —
    // the 10x probe had the Expand plan at 26.6 s vs 2.2 s for this
    // shape on identical data, and the gap widens with data size. The
    // (tiny) flag-keyed join below is broadcast by AQE.
    Q("q21_approx_distinct",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        // NULL guard: groupBy keeps a null group, countDistinct ignores
        // nulls — the filter keeps the two-level rewrite exactly
        // equivalent even on data with null keys (TPC-H never has one).
        val exact = li.filter(col("l_orderkey").isNotNull)
          .groupBy(col("l_returnflag"), col("l_orderkey"))
          .agg(count(lit(1)))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("exact_orders"))
        val approx = li.groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02)
            .as("approx_orders"))
        exact.join(approx, "l_returnflag")
          .orderBy(col("l_returnflag"))
      },
      None),

    // ---- Rolling time-range window (RANGE BETWEEN ... PRECEDING): per-
    // user trailing-1-hour event count and exact decimal value sum — the
    // at-scale telemetry pattern (fraud windows, rate limiting, rolling
    // engagement). The frame is expressed on epoch MICROS, so boundaries
    // and peer rows at equal timestamps are integer-exact in both
    // engines; the window shuffles once on user_id, sorts within the
    // partition, and streams the frame — never a self-join blowup.
    Q("q33_rolling_window",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-3600000000L, 0L)
        Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), dec(col("value")).as("dv"))
          .select(col("event_id"), col("user_id"), col("us"),
            count(lit(1)).over(w).as("roll_n"),
            sum(col("dv")).over(w).cast("decimal(38,2)")
              .cast("string").as("roll_sum"))
          .orderBy(col("user_id"), col("us"), col("event_id"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) us,
             |    CAST(CAST(value AS VARCHAR) AS DECIMAL(18,2)) dv
             |  FROM events)
             |SELECT event_id, user_id, us,
             |  CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
             |  CAST(CAST(SUM(dv) OVER w AS DECIMAL(38,2)) AS VARCHAR) AS roll_sum
             |FROM e
             |WINDOW w AS (PARTITION BY user_id ORDER BY us
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, us, event_id""".stripMargin)),

    // ---- Null-safe join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    // MATCH each other — the semantics dimension lookups with unknown
    // keys need, and a classic silent-wrong-answer corner (a plain
    // equi-join drops every NULL-keyed row on the floor). Planned as a
    // hash join on the null-safe key, not a nested loop.
    Q("q36_null_safe_join",
      (s, dir) => {
        val a = Tables(s, dir, "orders")
          .select(nullif(col("o_orderstatus"), lit("O")).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("n_orders"))
        val b = Tables(s, dir, "lineitem")
          .select(nullif(col("l_linestatus"), lit("O")).as("k2"))
          .groupBy(col("k2")).agg(count(lit(1)).as("n_lines"))
        a.join(b, col("k") <=> col("k2"), "full_outer")
          .select(coalesce(col("k"), col("k2")).as("k"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_lines"), lit(0L)).as("n_lines"))
          .orderBy(col("k"))
      },
      Some("""WITH a AS (
             |  SELECT NULLIF(o_orderstatus, 'O') k, COUNT(*) n_orders
             |  FROM orders GROUP BY 1),
             |b AS (
             |  SELECT NULLIF(l_linestatus, 'O') k2, COUNT(*) n_lines
             |  FROM lineitem GROUP BY 1)
             |SELECT COALESCE(k, k2) AS k,
             |  COALESCE(n_orders, 0) AS n_orders,
             |  COALESCE(n_lines, 0) AS n_lines
             |FROM a FULL OUTER JOIN b ON k IS NOT DISTINCT FROM k2
             |ORDER BY k""".stripMargin)),

    // ---- Calendar spine + gap fill (dbt_utils.date_spine): generated
    // day spine left-joined to daily revenue, zero-filled — the calendar
    // mart every BI layer needs, and the pattern that proves LEFT JOIN
    // against a GENERATED relation (no stored calendar table). The spine
    // is a local explode(sequence(...)) — rows are manufactured on the
    // executors, no scan, no shuffle until the join.
    Q("q35_date_spine_gapfill",
      (s, dir) => {
        val spine = s.sql(graft.model.Renderer.render(
          """SELECT date_day FROM {{ dbt_utils.date_spine('day',
            |  "DATE '1995-01-01'", "DATE '1995-04-01'") }}""".stripMargin,
          ref = identity, source = (_, _) => ""))
        val rev = Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1995-04-01").cast("timestamp"))
          .groupBy(to_date(col("o_orderdate")).as("date_day"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("decimal(38,2)").as("rev"))
        spine.join(rev, Seq("date_day"), "left")
          .select(col("date_day").cast("string").as("date_day"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("rev"), lit(0).cast("decimal(38,2)"))
              .cast("string").as("revenue"))
          .orderBy(col("date_day"))
      },
      Some("""WITH spine AS (
             |  SELECT CAST(unnest(generate_series(DATE '1995-01-01',
             |    DATE '1995-03-31', INTERVAL '1 day')) AS DATE) date_day),
             |rev AS (
             |  SELECT CAST(o_orderdate AS DATE) date_day,
             |    COUNT(*) n_orders,
             |    CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR)
             |      AS DECIMAL(18,2))) AS DECIMAL(38,2)) rev
             |  FROM orders
             |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
             |    AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
             |  GROUP BY 1)
             |SELECT CAST(s.date_day AS VARCHAR) AS date_day,
             |  COALESCE(n_orders, 0) AS n_orders,
             |  CAST(COALESCE(rev, CAST(0 AS DECIMAL(38,2))) AS VARCHAR)
             |    AS revenue
             |FROM spine s LEFT JOIN rev USING (date_day)
             |ORDER BY date_day""".stripMargin)),

    // ---- Semi-structured extraction (the Snowflake VARIANT workload):
    // schema'd from_json — parsed once per row inside codegen, never a
    // per-field re-parse the way chained get_json_object would — then a
    // typed aggregate over the extracted field. At 100 TB the JSON parse
    // is the scan's dominant CPU; one schema'd parse per row is the
    // floor, and unparseable rows degrade to NULL, not failure.
    Q("q34_json_extract",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(col("event_type"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k INT"))
              .getField("k").as("k"))
          .groupBy(col("event_type"))
          .agg(count(col("k")).as("n_k"),
            sum(col("k")).as("sum_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             | COUNT(CAST(props->>'k' AS INT)) AS n_k,
             | CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
             | MAX(CAST(props->>'k' AS INT)) AS max_k
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // ---- VARIANT-array flatten (Snowflake LATERAL FLATTEN, the op a
    // Snowflake user runs on the reference's menu VARIANT column,
    // setup/setup_data.sql:57): a JSON ARRAY column explodes to one row
    // per element with its ordinal. The array column is synthesized
    // in-plan (to_json of the doc's first five words) so the gate
    // round-trips REAL JSON: one schema'd from_json(array<string>) parse
    // per row — never per-element re-parsing — then posexplode. Generate
    // sits inside the scan stage: map-only, no shuffle before the
    // aggregate.
    Q("q38_json_flatten",
      (s, dir) => {
        val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            to_json(slice(words, 1, 5)).as("j")) // the VARIANT array
          .select(col("doc_id"),
            posexplode(from_json(col("j"),
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StringType))))
          .toDF("doc_id", "pos", "word")
          .groupBy(col("pos"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("word")).as("min_word"),
            countDistinct(col("word")).as("n_distinct"))
          .orderBy(col("pos"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
             |      AS w
             |  -- NULL text must drop the row like Spark's
             |  -- posexplode(from_json(NULL)) does; without the guard,
             |  -- LEAST(NULL, 5) = 5 (LEAST ignores NULLs) would emit 5
             |  -- phantom NULL-word rows per NULL doc.
             |  FROM documents WHERE text IS NOT NULL),
             |ex AS (
             |  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             |    w[CAST(i AS INT)] AS word
             |  FROM toks, unnest(range(1, LEAST(len(w), 5) + 1)) AS t(i))
             |SELECT pos, COUNT(*) AS n_docs, MIN(word) AS min_word,
             |  COUNT(DISTINCT word) AS n_distinct
             |FROM ex GROUP BY pos ORDER BY pos""".stripMargin)),

    // ---- Correlated subqueries (TPC-H q4 shape): EXISTS + NOT EXISTS
    // with correlated predicates, written as SQL so the gate exercises
    // Catalyst's RewritePredicateSubquery path — the planner must rewrite
    // both to hash joins (semi + anti) on the correlation key, never a
    // nested-loop re-scan of lineitem per order (PlanAuditSpec pins
    // this). At 100 TB this is THE pattern analysts write that can
    // silently go quadratic on a lesser planner.
    Q("q32_exists_correlated",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("q32_orders")
        Tables(s, dir, "lineitem").createOrReplaceTempView("q32_lineitem")
        s.sql("""SELECT o_orderpriority, COUNT(*) AS order_count
                |FROM q32_orders o
                |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                |  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                |  AND EXISTS (SELECT 1 FROM q32_lineitem l
                |              WHERE l.l_orderkey = o.o_orderkey
                |                AND l.l_returnflag = 'R')
                |  AND NOT EXISTS (SELECT 1 FROM q32_lineitem l2
                |                  WHERE l2.l_orderkey = o.o_orderkey
                |                    AND l2.l_discount > 0.05)
                |GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
             |FROM orders o
             |WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
             |  AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem l
             |              WHERE l.l_orderkey = o.o_orderkey
             |                AND l.l_returnflag = 'R')
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l2
             |                  WHERE l2.l_orderkey = o.o_orderkey
             |                    AND l2.l_discount > 0.05)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- Pushed-down time-slice scan: "give me day 2 of the log" with
    // the range predicate phrased in the RAW ts encoding, BEFORE the
    // normalizing projection (Tables.eventsBetween) — so it reaches
    // PushedFilters and prunes parquet row groups by min/max stats
    // (PlanAuditSpec pins this for both physical encodings). Filtering
    // the normalized column instead would evaluate an expression over
    // every row of a 100 TB log; this path reads only the slice. Bounds
    // derive from the corpus min (one 1-row bounded collect), so the
    // gate is scale-factor-independent.
    Q("q39_events_time_slice",
      (s, dir) => {
        val minUs = Tables(s, dir, "events")
          .agg(min(unix_micros(col("ts")))).head().getLong(0)
        Tables.eventsBetween(s, dir,
            minUs + 86400000000L, minUs + 172800000000L)
          .groupBy(date_trunc("hour", col("ts")).as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            dsumStr(col("value"), 4).as("sum_value"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""WITH b AS (
             |  SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS mn
             |  FROM events)
             |SELECT date_trunc('hour', ts) AS hour, event_type,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)))
             |    AS VARCHAR) AS sum_value
             |FROM events, b
             |WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= b.mn + 86400000000
             |  AND epoch_us(CAST(ts AS TIMESTAMP)) < b.mn + 172800000000
             |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // TPC-H Q17's shape: a CORRELATED SCALAR AGGREGATE subquery
    // ("rows below 20% of their part's average quantity"), decorrelated
    // the way Catalyst plans it — one per-key aggregate joined back,
    // never a per-row subquery loop. The 0.2·avg comparison
    // cross-multiplies to `5·qty·cnt < sum` so the predicate is EXACT
    // decimal arithmetic (avg() would put a double division on both
    // engines' disagreement path — the q-tier float discipline). The
    // part dimension broadcasts; the only shuffles are the stats
    // aggregate and the join back on l_partkey.
    Q("q40_correlated_scalar_agg",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val part = Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))
        val stats = li.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(12,2)")).as("sumq"))
        li.select(col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"))
          .join(stats, "l_partkey")
          .filter(col("l_quantity").cast("decimal(12,2)") *
            col("cnt") * 5 < col("sumq"))
          .join(broadcast(part),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_small"),
            dsumStr(col("l_extendedprice")).as("total_price"))
          .orderBy(col("p_brand"))
      },
      Some("""WITH stats AS (
             |  SELECT l_partkey, COUNT(*) cnt,
             |    SUM(CAST(l_quantity AS DECIMAL(12,2))) sumq
             |  FROM lineitem GROUP BY 1),
             |q AS (
             |  SELECT l.l_partkey, l.l_extendedprice
             |  FROM lineitem l JOIN stats s USING (l_partkey)
             |  WHERE CAST(l.l_quantity AS DECIMAL(12,2)) * s.cnt * 5
             |    < s.sumq)
             |SELECT p.p_brand, COUNT(*) AS n_small,
             |  CAST(CAST(SUM(CAST(q.l_extendedprice AS DECIMAL(18,2)))
             |    AS DECIMAL(38,2)) AS VARCHAR) AS total_price
             |FROM q JOIN part p ON q.l_partkey = p.p_partkey
             |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
