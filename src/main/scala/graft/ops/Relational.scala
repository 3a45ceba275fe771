package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables.t
import Num._

/** Relational operator core (SURVEY.md §2.2–§2.6, §7.3 M1): scan, filter,
  * project, equi/semi/anti/outer/cross joins, hash aggregation, distinct
  * aggregation, rollup, window functions, sorts/limits/top-k, set ops,
  * scalar string/date/math functions, scalar subqueries.
  *
  * Every query is expressed declaratively on the DataFrame API so Catalyst
  * handles predicate pushdown, column pruning, and partial/final aggregation;
  * small dimension tables are broadcast explicitly. Every query carries a
  * deterministic total ORDER BY and decimal-exact aggregates (see [[Num]]) so
  * the DuckDB oracle hash-matches bitwise.
  */
object Relational {

  // ---- q1: TPC-H Q1-style pricing summary (scan → filter → hash agg) ------
  // Reference analogue: partial/final SUM-and-AVG gather (SURVEY.md §2.4,
  // calculate_average_reserves.py:27-35) generalized to grouped aggregation.
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp_ntz"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(money(col("l_extendedprice")) * (dlit("1.00") - rate(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        sum(money(col("l_extendedprice")) * (dlit("1.00") - rate(col("l_discount")))
          * (dlit("1.00") + rate(col("l_tax")))).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2))) * (1.00 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       |  ${sqlDavg("l_quantity")} AS avg_qty,
       |  ${sqlDavg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- q2: filter + projection (pushdown/pruning showcase) ----------------
  def q2FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(
        col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp_ntz"),
          lit("1997-01-01").cast("timestamp_ntz"))
          && col("l_discount") > 0.05 && col("l_quantity") < 25)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  val q2Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount > 0.05 AND l_quantity < 25
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- q3: TPC-H Q3-style 3-way join + top-k revenue ----------------------
  // The small filtered customer side is broadcast (no shuffle for that join).
  def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp_ntz"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(money(col("l_extendedprice")) * (dlit("1.00") - rate(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  // ---- q4: star-schema rollup via broadcast dimension joins ---------------
  def q4RegionAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"),
        davg(col("c_acctbal")).as("avg_acctbal"))
      .orderBy("r_name")

  val q4Sql: String =
    s"""SELECT r_name, COUNT(*) AS n_customers,
       |  ${sqlDsum("c_acctbal")} AS total_acctbal,
       |  ${sqlDavg("c_acctbal")} AS avg_acctbal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name
       |ORDER BY r_name""".stripMargin

  // ---- q5: left-semi join (EXISTS) ----------------------------------------
  def q5SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 45).select("l_orderkey")
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
  }

  val q5Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders
       |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ---- q6: left-anti join (NOT EXISTS) ------------------------------------
  // Customers with no single order above 300k — the right side is
  // FILTERED so the anti-join has real survivors at every test scale
  // (every customer has SOME order in the testdata, so the unfiltered
  // variant passed vacuously on 0 rows — the q77 round-4 lesson applied
  // here).
  def q6AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_totalprice") > 300000.0)
      .select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  val q6Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- q7: left-outer join + per-key aggregation --------------------------
  def q7OuterJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total_spent"))
      .orderBy("c_custkey")
  }

  val q7Sql: String =
    s"""SELECT c_custkey, c_name, c_mktsegment,
       |  COUNT(o_orderkey) AS n_orders,
       |  COALESCE(${sqlDsum("o_totalprice")}, 0.0) AS total_spent
       |FROM customer
       |LEFT JOIN orders ON c_custkey = o_custkey
       |GROUP BY c_custkey, c_name, c_mktsegment
       |ORDER BY c_custkey""".stripMargin

  // ---- q8: ranking window functions (row_number/rank/dense_rank/ntile) ----
  def q8WindowRank(s: SparkSession, dir: String): DataFrame = {
    val wTotal = Window.partitionBy("o_orderpriority")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val wVal = Window.partitionBy("o_orderpriority").orderBy(desc("o_totalprice"))
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"),
        row_number().over(wTotal).as("rn"),
        rank().over(wVal).as("rnk"),
        dense_rank().over(wVal).as("drnk"),
        ntile(4).over(wTotal).as("quartile"))
      .filter(col("rn") <= 5)
      .orderBy("o_orderpriority", "rn")
  }

  val q8Sql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn,
      |    rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk,
      |    dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS drnk,
      |    CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS quartile
      |  FROM orders) sub
      |WHERE rn <= 5
      |ORDER BY o_orderpriority, rn""".stripMargin

  // ---- q9: analytic window functions (running sum / lag / lead) -----------
  // Running decimal sum is order-fixed by the frame, hence engine-exact.
  def q9WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        sum(col("value").cast(DecimalType(18, 4)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        row_number().over(w).as("seq"))
      .orderBy("user_id", "seq")
  }

  val q9Sql: String =
    """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
      |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
      |FROM events
      |ORDER BY user_id, seq""".stripMargin

  // ---- q10: distinct aggregation ------------------------------------------
  def q10DistinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_suppkey")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_suppkey")

  val q10Sql: String =
    """SELECT l_suppkey,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |GROUP BY l_suppkey
      |ORDER BY l_suppkey""".stripMargin

  // ---- q11: set operations (INTERSECT / EXCEPT / UNION) -------------------
  def q11SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val op = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    f.intersect(op).withColumn("op", lit("both"))
      .union(f.except(op).withColumn("op", lit("f_only")))
      .union(f.union(op).distinct().withColumn("op", lit("any")))
      .select("op", "o_custkey")
      .orderBy("op", "o_custkey")
  }

  val q11Sql: String =
    """SELECT 'both' AS op, o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') a
      |UNION ALL
      |SELECT 'f_only' AS op, o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') b
      |UNION ALL
      |SELECT 'any' AS op, o_custkey FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |  UNION
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') c
      |ORDER BY op, o_custkey""".stripMargin

  // ---- q12: global top-k (orderBy + limit → TakeOrderedAndProject) --------
  def q12TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
      .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(25)

  val q12Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      |LIMIT 25""".stripMargin

  // ---- q13: scalar string/math functions ----------------------------------
  def q13ScalarFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        lower(col("p_type")).as("type_l"),
        substring(col("p_name"), 1, 8).as("name8"),
        length(col("p_name")).as("name_len"),
        concat_ws("#", col("p_brand"), col("p_type")).as("tag"),
        abs(col("p_retailprice") - lit(1000.0)).as("price_dev"),
        round(money(col("p_retailprice")) * dlit("1.1"), 2).cast("double").as("bumped"),
        (col("p_size") % 7).as("size_mod"),
        greatest(col("p_size"), lit(25)).as("size_hi"))
      .orderBy("p_partkey")

  val q13Sql: String =
    """SELECT p_partkey,
      |  upper(p_brand) AS brand_u,
      |  lower(p_type) AS type_l,
      |  substr(p_name, 1, 8) AS name8,
      |  CAST(length(p_name) AS INT) AS name_len,
      |  concat_ws('#', p_brand, p_type) AS tag,
      |  abs(p_retailprice - 1000.0) AS price_dev,
      |  CAST(round(CAST(p_retailprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE) AS bumped,
      |  p_size % 7 AS size_mod,
      |  greatest(p_size, 25) AS size_hi
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  // ---- q14: date/time functions -------------------------------------------
  def q14DateFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2002"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"))
      .orderBy("o_orderkey")

  val q14Sql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS y,
      |  CAST(month(o_orderdate) AS INT) AS m,
      |  CAST(day(o_orderdate) AS INT) AS d,
      |  CAST(quarter(o_orderdate) AS INT) AS q,
      |  date_trunc('month', o_orderdate) AS month_start,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002,
      |  o_orderdate + INTERVAL 30 DAY AS plus30
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  // ---- q15: HAVING (post-aggregation filter) ------------------------------
  def q15Having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("n_lines") >= 40)
      .orderBy("l_partkey")

  val q15Sql: String =
    s"""SELECT l_partkey, COUNT(*) AS n_lines, ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY l_partkey
       |HAVING COUNT(*) >= 40
       |ORDER BY l_partkey""".stripMargin

  // ---- q16: ROLLUP (multi-level grouping sets) ----------------------------
  def q16Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val q16Sql: String =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---- q17: scalar subquery (filter vs. global aggregate) -----------------
  // Spark side: the 1-row aggregate is broadcast, keeping the comparison
  // distributed (no driver-side collect).
  def q17ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val stats = l.agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    l.crossJoin(broadcast(stats))
      .filter(col("l_quantity") > col("avg_qty") * 1.5)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
  }

  val q17Sql: String =
    s"""SELECT l_orderkey, l_linenumber, l_quantity
       |FROM lineitem
       |WHERE l_quantity > (SELECT ${sqlDsum("l_quantity")} / COUNT(*) FROM lineitem) * 1.5
       |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- q18: full-outer join -----------------------------------------------
  def q18FullOuter(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val sup = t(s, dir, "supplier")
    n.join(sup, n("n_nationkey") === sup("s_nationkey"), "full_outer")
      .select(col("n_name"), col("s_name"),
        coalesce(col("s_acctbal"), lit(0.0)).as("bal"))
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("s_name"))
  }

  val q18Sql: String =
    """SELECT n_name, s_name, COALESCE(s_acctbal, 0.0) AS bal
      |FROM nation
      |FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
      |ORDER BY n_name ASC NULLS FIRST, s_name ASC NULLS FIRST""".stripMargin

  // ---- q19: cross join ----------------------------------------------------
  def q19CrossJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .orderBy("r_name", "n_name")

  val q19Sql: String =
    """SELECT r_name, n_name
      |FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  // ---- q25: pivot (cross-tab counts) --------------------------------------
  def q25Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderpriority")

  val q25Sql: String =
    """SELECT o_orderpriority,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
      |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- q26: exact percentiles + decimal-exact variance --------------------
  // percentile() sorts and linearly interpolates — identical arithmetic on
  // identical inputs in both engines; variance is computed from exact
  // decimal sums (Σx, Σx²), not a streaming accumulator, so it is
  // order-independent and engine-exact.
  def q26Percentile(s: SparkSession, dir: String): DataFrame = {
    val n = count(lit(1))
    val sx = dsum(col("l_quantity"))
    val sxx = sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(28, 4)))
      .cast("double")
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
        ((sxx - sx * sx / n) / (n - lit(1))).as("var_qty"),
        n.as("n"))
      .orderBy("l_returnflag")
  }

  val q26Sql: String =
    s"""SELECT l_returnflag,
       |  quantile_cont(l_quantity, 0.5) AS median_qty,
       |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
       |  (CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE)
       |    - ${sqlDsum("l_quantity")} * ${sqlDsum("l_quantity")} / COUNT(*))
       |    / (COUNT(*) - 1) AS var_qty,
       |  COUNT(*) AS n
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // ---- q82: approx percentile (sketch twin of q26) ------------------------
  // approx_percentile replaces q26's exact percentile() with a mergeable
  // bounded-memory quantile sketch — the same exact→sketch relationship as
  // q10→q34 for count-distinct. At 100 TB the exact version materializes
  // and sorts every value per group inside the aggregate buffer; the
  // sketch's partial-agg buffers are O(accuracy), merge associatively
  // map-side, and never hold the data. Rows-only (sketch contents are
  // implementation-specific); OperatorSpec pins ≤1% relative error vs the
  // exact q26 values.
  def q82ApproxPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 10000)").as("median_qty"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // ---- q94: map type construction + map generator -------------------------
  // MapType end to end: build a map column from scalar attributes, look a
  // key up (element_at), and explode the entries back to rows — the one
  // §2.5 type family no other query exercises. The oracle is the
  // relational expansion (a UNION ALL of the entries), which is exactly
  // what the generator produces.
  def q94MapExplode(s: SparkSession, dir: String): DataFrame = {
    val m = map(lit("lang"), col("lang"), lit("source"), col("source"))
    t(s, dir, "documents")
      .select(col("doc_id"), m.as("m"))
      .filter(element_at(col("m"), "lang").isNotNull) // keyed lookup
      .select(col("doc_id"), explode(col("m")).as(Seq("key", "value")))
      // NULL map values are dropped on BOTH sides: Spark orders NULLS
      // FIRST ascending, DuckDB NULLS LAST, so a NULL lang/source entry
      // would break the row-order hash even though the groups agree.
      .filter(col("value").isNotNull)
      .groupBy("key", "value")
      .agg(count(lit(1)).as("n"), min("doc_id").as("first_doc"))
      .orderBy("key", "value")
  }

  val q94Sql: String =
    """SELECT key, value, COUNT(*) AS n, MIN(doc_id) AS first_doc
      |FROM (SELECT doc_id, 'lang' AS key, lang AS value FROM documents
      |      WHERE lang IS NOT NULL
      |      UNION ALL
      |      SELECT doc_id, 'source', source FROM documents
      |      WHERE lang IS NOT NULL) kv
      |WHERE value IS NOT NULL
      |GROUP BY key, value
      |ORDER BY key, value""".stripMargin

  // ---- q29: CUBE + grouping_id (full grouping-sets lattice) ---------------
  def q29Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(asc("gid"), asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  val q29Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
       |  COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY gid ASC, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---- q27: salted two-phase aggregation (skew-defense pattern) -----------
  // A hot grouping key at scale overloads one reducer; salting splits each
  // key across `nSalts` partial groups, aggregates, then combines. Partial
  // sums are exact decimals, so the result is bit-identical to the unsalted
  // aggregation — which is exactly what the oracle computes.
  def q27SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val nSalts = 8
    t(s, dir, "lineitem")
      .withColumn("salt", pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(nSalts)))
      .groupBy("l_returnflag", "salt")
      .agg(
        sum(col("l_quantity").cast(DecimalType(18, 4))).as("part_qty"),
        count(lit(1)).as("part_n"))
      .groupBy("l_returnflag")
      .agg(
        sum(col("part_qty")).cast("double").as("total_qty"),
        sum(col("part_n")).as("n"))
      .orderBy("l_returnflag")
  }

  val q27Sql: String =
    s"""SELECT l_returnflag, ${sqlDsum("l_quantity")} AS total_qty, COUNT(*) AS n
       |FROM lineitem
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  // ---- q34: approx count-distinct (HyperLogLog++) -------------------------
  // The sketch-based twin of q10: per-group approximate distinct counts at
  // an explicit 2% relative standard deviation (the default 5% rsd leaves
  // no slack under a 5% accuracy contract — a 1σ+ excursion fails it).
  // rows-only (no oracle: DuckDB's approx_distinct is a different sketch
  // with different seeds); the contract — every group within 5% of exact
  // — is pinned by an OperatorSpec test. This is the 100 TB path for
  // distinct counting: a fixed-size HLL buffer with partial/final merge
  // instead of q10's Expand + exact shuffle of every distinct value.
  def q34ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_returnflag")

  // ---- q38: GROUPING SETS (the general form of rollup/cube) ---------------
  // An explicit, non-hierarchical set list — (status, priority), (priority)
  // alone, and the grand total — something neither ROLLUP nor CUBE can
  // express, via the Dataset.groupingSets API (Spark 4). grouping_id()
  // disambiguates the null-as-subtotal rows exactly as in q16/q29.
  def q38GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupingSets(
        Seq(
          Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")),
          Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy(asc("gid"),
        asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val q38Sql: String =
    s"""SELECT o_orderstatus, o_orderpriority,
       |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       |  COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders
       |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
       |ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ---- q39: LATERAL correlated subquery (top-2 orders per customer) -------
  // The lateral-join surface: a per-row correlated subquery with its own
  // ORDER BY + LIMIT, decorrelated by Catalyst into a ranked window join.
  // SQL-text form (the DataFrame API has no lateral builder in this
  // Spark line); the oracle is the identical statement.
  def q39LateralTopK(s: SparkSession, dir: String): DataFrame = {
    Seq("orders", "customer").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(q39Sql)
  }

  val q39Sql: String =
    """SELECT c_custkey, o_orderkey, o_totalprice
      |FROM customer,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey
      |  LIMIT 2) t
      |WHERE c_custkey <= 100
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  // ---- q47: bucketed co-located join (shuffle-free join path) -------------
  // THE 100 TB technique the relational surface still owed a demo: both
  // sides written bucketed+sorted on the join key, so the join needs NO
  // exchange on either side — at scale this converts every repeated
  // fact-fact join on the same key from a full-corpus shuffle into a
  // per-bucket merge. PlanSpec asserts the shuffle-free shape; the oracle
  // computes the same aggregate from the raw tables (bucketing must not
  // change results).
  def q47BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    // per-input-dir table names: fixed global names would collide across
    // concurrent sessions (or runs on different sf dirs) sharing a
    // warehouse
    val run = java.util.UUID.nameUUIDFromBytes(
      dir.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString.take(8)
    val ordersTbl = s"graft_orders_bkt_$run"
    val lineitemTbl = s"graft_lineitem_bkt_$run"
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse directories persist — drop both layers before (re)writing.
    // The location is resolved with Hadoop Path (handles file: URIs,
    // spaces, and remote filesystems — java.net.URI parsing throws on
    // unencoded characters) and deleted through the table's FileSystem.
    def reset(table: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS $table")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), table)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { val _ = fs.delete(loc, true) }
    }
    reset(ordersTbl)
    reset(lineitemTbl)
    t(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(ordersTbl)
    t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(lineitemTbl)
    // MERGE hint: at test scale the planner would broadcast the small
    // side (which ignores bucketing); the hint pins the sort-merge path
    // the bucket layout exists for — at 100 TB neither side broadcasts
    // and this is the plan the optimizer picks unaided.
    s.table(ordersTbl).hint("merge")
      .join(s.table(lineitemTbl),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  val q47Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_lines,
       |  ${sqlDsum("l_quantity")} AS sum_qty,
       |  ${sqlDsum("o_totalprice")} AS sum_price
       |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ---- q49: partitioned write + partition-pruned scan ---------------------
  // Hive-style partition layout: orders written partitionBy(status), then
  // read back filtered to ONE status — the scan must prune to that
  // partition directory (PlanSpec asserts PartitionFilters), which at
  // 100 TB is the difference between reading one directory and the whole
  // table. The oracle computes the same aggregate from the raw table:
  // layout must never change results.
  def q49PartitionPruning(s: SparkSession, dir: String): DataFrame = {
    val out = graft.TempDirs.staged(s"orders_partitioned:$dir")()
    t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority", "o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus")
      .parquet(out.toString)
    s.read.parquet(out.toString)
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
  }

  val q49Sql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total_price
       |FROM orders
       |WHERE o_orderstatus = 'F'
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  // ---- q48: correlated EXISTS / NOT EXISTS --------------------------------
  // Decorrelates to a semi join and an anti join in one statement.
  def q48Exists(s: SparkSession, dir: String): DataFrame = {
    Seq("orders", "customer").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(q48Sql)
  }

  val q48Sql: String =
    """SELECT c_custkey, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders o2
      |    WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  // ---- q76: per-group top-k via the custom physical operator --------------
  // The full custom-operator path (logical node → strategy → SparkPlan,
  // graft.plans.TopKPerGroup): top-3 orders per priority by price, with
  // bounded per-group heap state instead of a full window sort. The
  // oracle is the row_number formulation — same rows, different physics.
  def q76TopKCustom(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.topKPerGroup(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice"),
        groupCols = Seq("o_orderpriority"),
        orderCols = Seq("o_totalprice" -> false, "o_orderkey" -> true),
        k = 3)
      .orderBy(asc("o_orderpriority"), desc("o_totalprice"), asc("o_orderkey"))

  val q76Sql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice
      |FROM (
      |  SELECT o_orderkey, o_orderpriority, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) r
      |WHERE rn <= 3
      |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin

  // ---- q68: the SQL text surface (spark.sql over temp views) --------------
  // IN-subquery (→ semi join) + scalar subquery + join + agg, written as
  // SQL and executed by the same Catalyst pipeline; the oracle is the
  // identical statement, so this checks the SQL front-end end-to-end.
  def q68SqlSurface(s: SparkSession, dir: String): DataFrame = {
    Seq("orders", "customer").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(q68Sql)
  }

  val q68Sql: String =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
      |  AND o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---- q95: unpivot / melt (wide → long) ----------------------------------
  // The inverse of q25's pivot: a wide per-flag aggregate melted into
  // (key, metric, value) rows with Dataset.unpivot — the relational
  // `melt` every feature-store export needs. Values are exact integer
  // cents (decimal-summed, ×100, cast long) so the long format shares one
  // BIGINT type; the oracle is the UNION ALL expansion, which is the
  // operator's defining semantics. Scale: unpivot is a narrow 1→k
  // generator over an already-aggregated (tiny) relation.
  def q95Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        (sum(money(col("l_quantity"))) * 100).cast("long").as("qty_cents"),
        (sum(money(col("l_extendedprice"))) * 100).cast("long").as("price_cents"),
        count(lit(1)).as("n"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("qty_cents"), col("price_cents"), col("n")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")

  val q95Sql: String =
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS qty_cents,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS price_cents,
      |    COUNT(*) AS n
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, metric, value FROM (
      |  SELECT l_returnflag, 'qty_cents' AS metric, qty_cents AS value FROM w
      |  UNION ALL SELECT l_returnflag, 'price_cents', price_cents FROM w
      |  UNION ALL SELECT l_returnflag, 'n', n FROM w) u
      |ORDER BY l_returnflag, metric""".stripMargin

  // ---- q101: salted skew JOIN (replicate-dim defense) ---------------------
  // q27 salts an AGGREGATION; this salts a JOIN — the defense when one hot
  // fact key would overload a single join task and the dimension is too
  // big to broadcast outright: the fact side salts each row into one of
  // nSalts sub-keys (derived from the row, uniform via xxhash64), the
  // dimension side replicates each row across ALL salts with a 1→k
  // generator, and the join runs on (key, salt) — splitting every hot
  // key's probe stream across nSalts tasks. Replication costs nSalts× the
  // dim, which is why AQE skew-join (runtime split, no replication) is
  // preferred when available; this is the manual, planner-independent
  // form. The salt never reaches the output, so the result is exactly the
  // unsalted join — which is what the oracle computes.
  def q101SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val nSalts = 8
    val fact = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"),
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(nSalts))
          .cast("int").as("salt"))
    val dim = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      // pre-explode repartition: the 1→nSalts generator multiplies rows
      // past what scan-split planning sees (see the q36 explode note)
      .transform(graft.Tables.barrier(_, col("o_orderkey")))
      .withColumn("salt", explode(sequence(lit(0), lit(nSalts - 1))))
    fact.join(dim,
        fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy("o_orderpriority")
      .agg(
        (sum(money(col("l_extendedprice"))) * 100).cast("long").as("price_cents"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  val q101Sql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS price_cents,
      |  COUNT(*) AS n
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---- q177: AQE skew join (runtime split, no replication) ----------------
  // q101 is the MANUAL skew defense (salt + replicate-dim — planner
  // independent, costs nSalts× the dim). This is the production path: let
  // AQE's OptimizeSkewedJoin measure the actual shuffle-partition sizes at
  // runtime and split only the partitions that ARE skewed, duplicating only
  // the matching dim partition — no static salt factor to tune, no cost on
  // the 99% of keys that aren't hot. The skew is PLANTED deterministically
  // (60% of fact rows collapse onto one hot key — SQL-expressible, so
  // DuckDB hash-checks the result), the join is forced to sort-merge
  // (broadcast would hide the skew), and the skew thresholds are lowered to
  // fire at test scale — at production scale the defaults (256 MB / 5×
  // median) play the same role. The aggregate is materialized INSIDE the
  // conf scope (it is 5 rows — bounded) because lowered thresholds and a
  // disabled broadcast limit must not leak into other queries' plans; the
  // executed adaptive plan is kept for the spec's OptimizeSkewedJoin lock.
  //
  // Two probed-not-guessed preconditions for the split to be POSSIBLE:
  //   * the skewed reduce partition is split by MAP-OUTPUT ranges, so the
  //     fact shuffle needs multiple mappers — a single small parquet file
  //     scans as ONE map task and the hot partition is then unsplittable
  //     (observed: skew=false at every threshold). The round-robin
  //     repartition(8) provides the mapper granularity; at warehouse scale
  //     the thousands of scan tasks do this for free.
  //   * skew detection compares COMPRESSED shuffle-block bytes, and the hot
  //     partition (one repeated key) compresses far better than the uniform
  //     ones — at this scale the byte ratio is < 2× even though the row
  //     ratio is 7×, so the factor is 1 with a positive byte floor rather
  //     than the default 5.
  def q177AqeSkewJoin(s: SparkSession, dir: String): DataFrame =
    graft.Tables.withConf(s,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = t(s, dir, "lineitem")
        .repartition(8) // mapper granularity for the skew split (see above)
        .select(expr("CASE WHEN l_orderkey % 10 < 6 THEN 7 ELSE l_orderkey END")
          .as("jk"), col("l_extendedprice"))
      val dim = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      val joined = fact.join(dim, fact("jk") === dim("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          (sum(money(col("l_extendedprice"))) * 100).cast("long").as("price_cents"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
      val rows = joined.collect() // ≤ |priorities| rows — bounded driver state
      lastSkewJoinPlan = joined.queryExecution.executedPlan.toString
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), joined.schema)
        .orderBy("o_orderpriority")
    }

  /** Final adaptive plan of the last q177 run, for the PlanSpec skew lock. */
  @volatile private[graft] var lastSkewJoinPlan: String = ""

  // ---- q179: runtime bloom-filter join pushdown (planner-injected) --------
  // q92 builds and applies a bloom prefilter BY HAND (aggregate the dim
  // keys into a bloom, semi-filter the fact before the join). This is the
  // production path: Catalyst's InjectRuntimeFilter sees a selective
  // predicate on the dim side of a shuffle join and plants a
  // bloom_filter_agg subquery + BloomFilterMightContain predicate on the
  // FACT side scan — rows that cannot join are dropped before the fact
  // shuffle, which at 100 TB is the difference between shuffling the whole
  // fact table and shuffling the matching ~quarter. The bloom is
  // false-positive-only, so the join result is EXACT and the plain-join
  // oracle hash-checks it. The application-side size threshold defaults to
  // 10 GB (nothing this size qualifies), so it is lowered to 0 inside the
  // restored conf scope; broadcast is disabled because a broadcast join
  // needs no runtime filter (the closure q177 forces SMJ for the same
  // reason). Materialized inside the scope; plan kept for the spec lock.
  def q179RuntimeBloomJoin(s: SparkSession, dir: String): DataFrame =
    graft.Tables.withConf(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = t(s, dir, "lineitem").select(col("l_partkey"), col("l_extendedprice"))
      val dim = t(s, dir, "part")
        .filter(col("p_size") <= 10)
        .select(col("p_partkey"), col("p_brand"))
      val joined = fact.join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          (sum(money(col("l_extendedprice"))) * 100).cast("long").as("price_cents"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
      val rows = joined.collect() // ≤ |brands| rows — bounded driver state
      lastBloomJoinPlan = joined.queryExecution.executedPlan.toString
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), joined.schema)
        .orderBy("p_brand")
    }

  /** Final plan of the last q179 run, for the PlanSpec bloom lock. */
  @volatile private[graft] var lastBloomJoinPlan: String = ""

  // ---- q180: DYNAMIC partition pruning (runtime, via a join) --------------
  // q49 prunes partitions with a LITERAL predicate the planner sees at
  // compile time. The 100 TB warehouse shape is different: the fact is
  // partitioned on a key (ship month) and the predicate arrives THROUGH A
  // JOIN with a filtered dimension — no literal partition value exists in
  // the query text. Dynamic partition pruning closes that gap: the planner
  // plants a DynamicPruningExpression on the fact scan's PartitionFilters,
  // fed by the dim's broadcast, so only the matching month directories are
  // listed and read. The dim here is a month dimension derived once from
  // the fact (month → calendar attributes), staged as its own parquet
  // table; the filter (first-quarter months) selects 3 of ~84 partitions.
  // The oracle reconstructs the same join from the raw table — layout and
  // pruning must never change results (q49's discipline).
  def q180DynamicPartitionPruning(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.TempDirs.staged(s"lineitem_by_month:$dir") { p =>
      t(s, dir, "lineitem")
        .select(date_format(col("l_shipdate").cast("date"), "yyyy-MM").as("l_shipmonth"),
          col("l_extendedprice"))
        .write.mode("overwrite").partitionBy("l_shipmonth")
        .parquet(p.resolve("fact").toString)
      t(s, dir, "lineitem")
        .select(date_format(col("l_shipdate").cast("date"), "yyyy-MM").as("month"))
        .distinct()
        .withColumn("mm", substring(col("month"), 6, 2))
        .write.mode("overwrite").parquet(p.resolve("months").toString)
    }
    val fact = s.read.parquet(s"$staged/fact")
    val dim = s.read.parquet(s"$staged/months")
      .filter(col("mm").isin("01", "02", "03"))
    fact.join(dim, col("l_shipmonth") === col("month"))
      .groupBy("month")
      .agg(
        (sum(money(col("l_extendedprice"))) * 100).cast("long").as("price_cents"),
        count(lit(1)).as("n"))
      .orderBy("month")
  }

  val q180Sql: String =
    """SELECT month,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS price_cents,
      |  COUNT(*) AS n
      |FROM (SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
      |        l_extendedprice
      |      FROM lineitem) f
      |WHERE substr(month, 6, 2) IN ('01', '02', '03')
      |GROUP BY month
      |ORDER BY month""".stripMargin

  val q179Sql: String =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS price_cents,
      |  COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 10
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  val q177Sql: String =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS price_cents,
      |  COUNT(*) AS n
      |FROM (SELECT CASE WHEN l_orderkey % 10 < 6 THEN 7 ELSE l_orderkey END AS jk,
      |        l_extendedprice
      |      FROM lineitem) f
      |JOIN orders ON f.jk = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // -------------------------------------------------------------------------
  // ---- q201: native SQL PIVOT → UNPIVOT round trip ------------------------
  // q25/q95 cover the Dataset pivot/unpivot API; this is the SQL-clause
  // surface (a different parser/analyzer path: PIVOT with MULTIPLE
  // aliased aggregates per cell and aliased IN values — producing the
  // `<value>_<agg>` column matrix — then UNPIVOT melting that matrix
  // straight back to long form in the same statement). The round trip is
  // the semantic proof: pivot∘unpivot must land on exactly the flat
  // GROUP BY the oracle computes, so header naming, cell routing, and
  // the melt all hash-check. Default EXCLUDE NULLS applies; the 5×3
  // priority×status grid is fully populated at every sf, so no cell is
  // dropped. Scale shape: one partial-final aggregate, then per-row
  // generators — same plan class as q25 + q95 composed.
  def q201SqlPivotUnpivot(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_q201")
    s.sql("""
      |SELECT o_orderpriority, metric, val
      |FROM (
      |  SELECT * FROM (
      |    SELECT o_orderpriority, o_orderstatus,
      |      CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |    FROM orders_q201)
      |  PIVOT (COUNT(*) AS n, SUM(cents) AS cents
      |         FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p)))
      |UNPIVOT (val FOR metric IN (f_n, f_cents, o_n, o_cents, p_n, p_cents))
      |ORDER BY o_orderpriority, metric""".stripMargin)
  }

  val q201Sql: String =
    """WITH agg AS (
      |  SELECT o_orderpriority, lower(o_orderstatus) AS st, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders
      |  GROUP BY 1, 2)
      |SELECT o_orderpriority, metric, val FROM (
      |  SELECT o_orderpriority, st || '_n' AS metric, n AS val FROM agg
      |  UNION ALL
      |  SELECT o_orderpriority, st || '_cents' AS metric, cents AS val FROM agg)
      |ORDER BY o_orderpriority, metric""".stripMargin

  // ---- q210: columnar in-memory cache (InMemoryRelation) ------------------
  // The last uncovered execution component: Spark's columnar cache. The
  // hot projection of lineitem is cached MEMORY_AND_DISK (the 100 TB
  // setting — hot partitions in memory, cold spill to local disk, never
  // recompute-from-scan), and the aggregate must then read from
  // InMemoryTableScan — require()d on the executed plan, so a silent
  // cache miss (analysis mismatch between the cached plan and the query,
  // the classic cache-invisibility bug) fails loudly rather than
  // re-scanning parquet. Values are integer cents — the cached columnar
  // codec (compressed column batches) sits on the hash path. The cache is
  // per-session-shared state: built once per (session, dir) via the
  // view-name key, reused by later calls — exactly how a serving layer
  // amortizes it.
  def q210CacheTable(s: SparkSession, dir: String): DataFrame = {
    val v = s"q210_cached_${Integer.toHexString(dir.hashCode)}"
    if (!s.catalog.tableExists(v) || !s.catalog.isCached(v)) {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_cents"),
          col("l_quantity").cast("long").as("qty"))
        .createOrReplaceTempView(v)
      s.catalog.cacheTable(v,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val out = s.table(v)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum("price_cents").as("sum_price_cents"),
        sum("qty").as("sum_qty"))
      .orderBy("l_returnflag", "l_linestatus")
    out.collect() // materialize the cache before locking the plan
    // AQE wraps the cache read in a TableCacheQueryStage, so lock the
    // OPTIMIZED plan's InMemoryRelation — the semantic statement that the
    // query resolved against the cache, not a fresh parquet scan
    val plan = out.queryExecution.optimizedPlan.toString
    require(plan.contains("InMemoryRelation"),
      s"q210: aggregate did not resolve against the columnar cache:\n$plan")
    out
  }

  val q210Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- q212: SQL pipe syntax (|>) + GROUP BY ALL + SELECT * EXCEPT --------
  // Spark 4's linear SQL dialect: the query reads as a top-to-bottom
  // pipeline (FROM |> WHERE |> EXTEND |> AGGREGATE |> ORDER BY) — the
  // textual form of what the DataFrame API expresses in Scala, parsed to
  // the SAME logical plan as the nested-SELECT oracle (proven by the
  // hash). GROUP BY ALL (infer keys = non-aggregate columns) and
  // SELECT * EXCEPT ride the chain. Analysis-layer surface only — the
  // optimized plan is plan-for-plan the classic form's.
  def q212SqlPipeSyntax(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_q212")
    // |> AGGREGATE rejects GROUP BY ALL by design (probed) — keys are
    // explicit in the pipe; ALL-inference is exercised in the classic
    // quarterly rollup on top
    s.sql("""FROM orders_q212
            ||> WHERE o_orderstatus = 'F'
            ||> EXTEND CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
            ||> EXTEND month(o_orderdate) AS m
            ||> SELECT * EXCEPT (o_orderkey, o_custkey, o_orderstatus,
            |                    o_totalprice, o_orderdate, o_orderpriority)
            ||> AGGREGATE COUNT(*) AS n, SUM(cents) AS sum_cents GROUP BY m""".stripMargin)
      .createOrReplaceTempView("q212_monthly")
    s.sql("""SELECT CAST((m - 1) div 3 + 1 AS INT) AS quarter,
            |  CAST(SUM(n) AS BIGINT) AS n,
            |  CAST(SUM(sum_cents) AS BIGINT) AS sum_cents
            |FROM q212_monthly
            |GROUP BY ALL
            |ORDER BY ALL""".stripMargin)
  }

  val q212Sql: String =
    """SELECT CAST((month(o_orderdate) - 1) // 3 + 1 AS INT) AS quarter,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---- q213: IGNORE NULLS analytic functions ------------------------------
  // The null-skipping window family q165's LOCF builds BY HAND (running
  // max of observation keys) — here as the native spellings: per-user
  // event streams where only purchases carry an amount, LAST_VALUE ...
  // IGNORE NULLS carries the most recent purchase forward across
  // non-purchase events, and NTH_VALUE(.., 2) IGNORE NULLS recalls each
  // user's second-ever purchase. Engine-exact integers; DuckDB's
  // IGNORE NULLS agrees form-for-form (probed). One window partition
  // spec → one exchange, the q102 discipline.
  def q213IgnoreNulls(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.events(s, dir).createOrReplaceTempView("events_q213")
    s.sql("""SELECT event_id, user_id,
            |  LAST_VALUE(p_cents) IGNORE NULLS OVER (
            |    PARTITION BY user_id ORDER BY ts, event_id
            |    ROWS UNBOUNDED PRECEDING) AS last_purchase_cents,
            |  NTH_VALUE(p_cents, 2) IGNORE NULLS OVER (
            |    PARTITION BY user_id ORDER BY ts, event_id
            |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            |    AS second_purchase_cents
            |FROM (SELECT event_id, user_id, ts,
            |        CASE WHEN event_type = 'purchase'
            |             THEN CAST(round(value * 100) AS BIGINT) END AS p_cents
            |      FROM events_q213)
            |ORDER BY event_id""".stripMargin)
      .na.fill(-1L, Seq("last_purchase_cents", "second_purchase_cents"))
  }

  val q213Sql: String =
    """SELECT event_id, user_id,
      |  COALESCE(LAST_VALUE(p_cents IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING), -1) AS last_purchase_cents,
      |  COALESCE(NTH_VALUE(p_cents, 2 IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), -1)
      |    AS second_purchase_cents
      |FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
      |        CASE WHEN event_type = 'purchase'
      |             THEN CAST(round(value * 100) AS BIGINT) END AS p_cents
      |      FROM events)
      |ORDER BY event_id""".stripMargin

  // ---- q215: DISTRIBUTE BY / SORT BY — explicit physical layout in SQL ----
  // The SQL spelling of repartition + sortWithinPartitions: DISTRIBUTE BY
  // hash-shuffles on the key, SORT BY orders WITHIN each partition with
  // NO global sort (the plan lock: hashpartitioning exchange + a
  // global=false Sort, and no rangepartitioning anywhere) — the layout
  // clause a 100 TB ETL job uses to organize output for a downstream
  // bucketed consumer without paying a total order. Layout never changes
  // CONTENT: the aggregate on top must hash-match the plain oracle.
  def q215DistributeSortBy(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_q215")
    val clustered = s.sql(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |FROM lineitem_q215
        |DISTRIBUTE BY l_orderkey SORT BY l_orderkey, l_linenumber""".stripMargin)
    val plan = clustered.queryExecution.executedPlan.toString
    require(plan.contains("hashpartitioning"),
      s"q215: DISTRIBUTE BY must hash-shuffle:\n$plan")
    require(plan.contains("Sort") && !plan.contains("rangepartitioning"),
      s"q215: SORT BY must sort within partitions, never globally:\n$plan")
    clustered
      .groupBy((col("l_orderkey") % 97).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .orderBy("bucket")
  }

  val q215Sql: String =
    """SELECT l_orderkey % 97 AS bucket, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---- q216: script TRANSFORM (Hive-style pipe through a subprocess) ------
  // The escape hatch predating UDFs: `SELECT TRANSFORM(...) USING 'cmd'`
  // serializes rows to tab-separated lines on the child's stdin and
  // parses its stdout back — the ScriptTransformation operator, running
  // WITHOUT Hive (the default row format). `tr a-z A-Z` uppercases the
  // whole line (digits and tabs pass through), so the subprocess hop is
  // proven by content: lang comes back uppercased, doc_id survives
  // numerically, and the aggregate hash-matches the oracle's upper().
  // Scale shape: one subprocess per task, rows streamed — the same
  // contract as any external-binary feature extractor in a pipeline.
  def q216ScriptTransform(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("documents_q216")
    s.sql("""SELECT TRANSFORM(doc_id, lang, n_chars)
            |  USING 'tr a-z A-Z'
            |  AS (doc_id BIGINT, lang_upper STRING, n_chars BIGINT)
            |FROM documents_q216""".stripMargin)
      .groupBy("lang_upper")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        md5(expr("array_join(transform(array_sort(collect_list(doc_id)), " +
          "x -> CAST(x AS STRING)), ',')").cast("binary")).as("ids_md5"))
      .orderBy("lang_upper")
  }

  val q216Sql: String =
    """SELECT upper(lang) AS lang_upper, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
      |FROM documents
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---- q218: ANSI error-safe arithmetic (try_* family) --------------------
  // Spark 4 runs ANSI mode by default: overflow/÷0/bad casts THROW unless
  // the query opts into the three-valued `try_*` forms, which return NULL
  // exactly where the strict form would error — the contract a 100 TB
  // pipeline needs to quarantine poison rows instead of dying mid-job.
  // Each family is exercised on deterministically-placed edges (÷0 on
  // doc_id % 5, long overflow on doc_id % 3, unparsable casts from text,
  // a bounded to_number format) and the oracle restates every NULL
  // placement as CASE logic, so the exact null semantics of all four
  // functions sit under the hash. Sums stay integer (`div`), never the
  // try_divide double.
  def q218TrySafeArithmetic(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), col("doc_id"), col("n_chars"), col("text"),
        expr("try_divide(n_chars, doc_id % 5)").as("d"),
        expr("try_multiply(9223372036854775807L, CASE WHEN doc_id % 3 = 0 THEN 2L ELSE 1L END)").as("m"),
        expr("try_cast(substr(text, 1, 2) AS INT)").as("c"),
        expr("try_to_number(CAST(n_chars AS STRING), '999')").as("p"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("d").isNull, 1)).as("n_div_zero"),
        count(when(col("m").isNull, 1)).as("n_overflow"),
        count(col("c")).as("n_cast_ok"),
        count(col("p")).as("n_parsed"),
        sum(expr("n_chars div nullif(doc_id % 5, 0)")).as("sum_quot"))
      .orderBy("lang")

  val q218Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  COUNT(CASE WHEN doc_id % 5 = 0 THEN 1 END) AS n_div_zero,
      |  COUNT(CASE WHEN doc_id % 3 = 0 THEN 1 END) AS n_overflow,
      |  COUNT(CASE WHEN regexp_matches(substr(text, 1, 2), '^[0-9]+$') THEN 1 END) AS n_cast_ok,
      |  COUNT(CASE WHEN n_chars <= 999 THEN 1 END) AS n_parsed,
      |  CAST(SUM(CASE WHEN doc_id % 5 <> 0 THEN n_chars // (doc_id % 5) END) AS BIGINT) AS sum_quot
      |FROM documents
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---- q219: collated strings (UTF8_LCASE) --------------------------------
  // Spark 4's collation support: strings carry a COLLATION and every
  // comparison/grouping honors it. A mixed-case key (upper(lang) on even
  // doc_ids) groups under UTF8_LCASE into case-classes; the emitted
  // representative is MIN under BINARY collation ('EN' < 'en'), so the
  // output is deterministic and the oracle can restate the whole thing
  // with lower()+min(). A collated equality against an UPPERCASE
  // dimension literal proves comparisons too ('EN' = 'en' under LCASE).
  // At scale collation is a property of the exchange hash — grouping
  // collated keys shuffles case-insensitively with no lower() rewrite.
  def q219Collations(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("documents_q219")
    s.sql("""SELECT COLLATE(mixed, 'UTF8_LCASE') AS k,
            |  MIN(COLLATE(mixed, 'UTF8_BINARY')) AS min_key,
            |  COUNT(*) AS n,
            |  COUNT(CASE WHEN COLLATE(mixed, 'UTF8_LCASE') = COLLATE(upper(mixed), 'UTF8_LCASE')
            |             THEN 1 END) AS n_eq_upper
            |FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS mixed
            |      FROM documents_q219)
            |GROUP BY k
            |ORDER BY min_key""".stripMargin)
      .drop("k")
  }

  val q219Sql: String =
    """SELECT MIN(mixed) AS min_key, COUNT(*) AS n, COUNT(*) AS n_eq_upper
      |FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS mixed
      |      FROM documents) x
      |GROUP BY lower(mixed)
      |ORDER BY 1""".stripMargin

  // ---- q220: ANSI interval types — typed durations as data ----------------
  // Day-time and year-month INTERVALS as first-class column values:
  // ts − midnight is a DayTimeInterval, SUM/AVG aggregate them natively,
  // and CAST(interval AS BIGINT) yields exact integral seconds/months —
  // so the whole typed-duration path (construction, arithmetic,
  // aggregation, cast-out) is integer-exact under the oracle, which
  // computes the same totals from epoch arithmetic. AVG truncation to
  // whole seconds is part of the pinned semantics (cast truncates the
  // fractional second).
  def q220IntervalArithmetic(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .select(col("event_type"),
        // whole-second flooring first: ts carries microseconds, and the
        // oracle's date_diff('second') floors per row — the interval sum
        // must aggregate the same floored quantities
        (date_trunc("second", col("ts")).cast("timestamp")
          - date_trunc("day", col("ts")).cast("timestamp"))
          .as("since_midnight"),
        expr("make_ym_interval(0, CAST(month(ts) AS INT))").as("ym"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(since_midnight) AS BIGINT)").as("sum_sec"),
        expr("CAST(AVG(since_midnight) AS BIGINT)").as("avg_sec"),
        expr("CAST(SUM(ym) AS INT)").as("sum_months"))
      .orderBy("event_type")

  val q220Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(sec) AS BIGINT) AS sum_sec,
      |  CAST(SUM(sec) // COUNT(*) AS BIGINT) AS avg_sec,
      |  CAST(SUM(month(ts)) AS INT) AS sum_months
      |FROM (SELECT event_type, ts,
      |        date_diff('second', date_trunc('day', CAST(ts AS TIMESTAMP)),
      |                  CAST(ts AS TIMESTAMP)) AS sec
      |      FROM events) e
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---- q221: map-typed higher-order functions -----------------------------
  // The map-HOF family completing q91/q94: a per-order map of
  // priority→cents is built with map_from_entries, then reshaped entirely
  // inside codegen'd lambdas — transform_values (scale), transform_keys
  // (prefix), map_filter (threshold), map_zip_with (merge with a
  // same-keyed count map) — and flattened back to relational rows for the
  // oracle, which reconstructs every entry arithmetically. No shuffle
  // until the final group-by: map algebra is projection work.
  def q221MapHofs(s: SparkSession, dir: String): DataFrame =
    // per-(custkey, priority) MAX first: map keys are then unique and the
    // map content is order-independent (collect_list order never matters)
    t(s, dir, "orders")
      .groupBy("o_custkey", "o_orderpriority")
      .agg(max(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"),
        count(lit(1)).as("n"))
      .groupBy("o_custkey")
      .agg(expr("map_from_entries(collect_list(struct(o_orderpriority, cents)))").as("m"),
        sum("n").as("n_orders"))
      .select(col("o_custkey"), col("n_orders"),
        expr("map_filter(transform_values(m, (k, v) -> v * 2), (k, v) -> v >= 40000000)").as("big2x"),
        expr("transform_keys(m, (k, v) -> concat('p_', substr(k, 1, 1)))").as("pk"))
      .select(col("o_custkey"), col("n_orders"),
        expr("cardinality(big2x)").as("n_big"),
        expr("aggregate(map_values(big2x), 0L, (a, x) -> a + x)").as("sum_big2x"),
        expr("aggregate(map_values(map_zip_with(pk, pk, (k, a, b) -> a + b)), 0L, (acc, x) -> acc + x)").as("sum_self_merge"))
      .orderBy("o_custkey")

  val q221Sql: String =
    """WITH pm AS (
      |  SELECT o_custkey, o_orderpriority,
      |    MAX(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS cents
      |  FROM orders
      |  GROUP BY 1, 2),
      |n AS (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1)
      |SELECT pm.o_custkey, n.n_orders,
      |  COUNT(CASE WHEN pm.cents * 2 >= 40000000 THEN 1 END) AS n_big,
      |  CAST(COALESCE(SUM(CASE WHEN pm.cents * 2 >= 40000000 THEN pm.cents * 2 END), 0) AS BIGINT) AS sum_big2x,
      |  CAST(SUM(pm.cents * 2) AS BIGINT) AS sum_self_merge
      |FROM pm JOIN n ON n.o_custkey = pm.o_custkey
      |GROUP BY 1, 2
      |ORDER BY 1""".stripMargin

  // ---- q222: generator breadth — stack / inline / posexplode_outer --------
  // The remaining row-generator spellings next to explode/sequence (q61,
  // q173): `stack` folds wide columns into rows, `inline` flattens an
  // array<struct> directly, and `posexplode_outer` KEEPS the parent row
  // when the array is empty (emitting nulls) — the outer-generator
  // semantics that silently drop rows when forgotten. Empty arrays are
  // planted deterministically (doc_id % 4 = 0), and the oracle restates
  // all three expansions as UNION ALL / CASE relational algebra.
  def q222GeneratorBreadth(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents").createOrReplaceTempView("documents_q222")
    s.sql("""
      |WITH stacked AS (
      |  SELECT doc_id, metric, val FROM (
      |    SELECT doc_id, stack(2, 'chars', n_chars, 'words',
      |      CAST(size(split(text, ' ')) AS BIGINT)) AS (metric, val)
      |    FROM documents_q222)),
      |inlined AS (
      |  SELECT doc_id, pos, tok FROM (
      |    SELECT doc_id,
      |      CASE WHEN doc_id % 4 = 0 THEN array()
      |           ELSE array(struct(1 AS pos, lang AS tok),
      |                      struct(2 AS pos, source AS tok)) END AS arr
      |    FROM documents_q222)
      |  LATERAL VIEW OUTER inline(arr) t AS pos, tok)
      |SELECT s.metric,
      |  COUNT(*) AS n,
      |  CAST(SUM(s.val) AS BIGINT) AS sum_val,
      |  COUNT(CASE WHEN i.pos IS NULL THEN 1 END) AS n_kept_empty
      |FROM stacked s JOIN inlined i ON i.doc_id = s.doc_id
      |GROUP BY s.metric
      |ORDER BY s.metric""".stripMargin)
  }

  val q222Sql: String =
    """WITH stacked AS (
      |  SELECT doc_id, 'chars' AS metric, n_chars AS val FROM documents
      |  UNION ALL
      |  SELECT doc_id, 'words',
      |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
      |  FROM documents),
      |inlined AS (
      |  SELECT doc_id, 1 AS pos FROM documents WHERE doc_id % 4 <> 0
      |  UNION ALL
      |  SELECT doc_id, 2 FROM documents WHERE doc_id % 4 <> 0
      |  UNION ALL
      |  SELECT doc_id, NULL FROM documents WHERE doc_id % 4 = 0)
      |SELECT s.metric, COUNT(*) AS n, CAST(SUM(s.val) AS BIGINT) AS sum_val,
      |  COUNT(CASE WHEN i.pos IS NULL THEN 1 END) AS n_kept_empty
      |FROM stacked s JOIN inlined i ON i.doc_id = s.doc_id
      |GROUP BY s.metric
      |ORDER BY s.metric""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q201_sql_pivot_unpivot" -> q201SqlPivotUnpivot _,
    "q210_cache_table" -> q210CacheTable _,
    "q212_sql_pipe_syntax" -> q212SqlPipeSyntax _,
    "q213_ignore_nulls" -> q213IgnoreNulls _,
    "q215_distribute_sort_by" -> q215DistributeSortBy _,
    "q216_script_transform" -> q216ScriptTransform _,
    "q218_try_safe_arithmetic" -> q218TrySafeArithmetic _,
    "q219_collations" -> q219Collations _,
    "q220_interval_arithmetic" -> q220IntervalArithmetic _,
    "q221_map_hofs" -> q221MapHofs _,
    "q222_generator_breadth" -> q222GeneratorBreadth _,
    "q1_pricing_summary" -> q1PricingSummary _,
    "q2_filter_project" -> q2FilterProject _,
    "q3_top_revenue" -> q3TopRevenue _,
    "q4_region_agg" -> q4RegionAgg _,
    "q5_semi_join" -> q5SemiJoin _,
    "q6_anti_join" -> q6AntiJoin _,
    "q7_outer_join" -> q7OuterJoin _,
    "q8_window_rank" -> q8WindowRank _,
    "q9_window_running" -> q9WindowRunning _,
    "q10_distinct_agg" -> q10DistinctAgg _,
    "q11_set_ops" -> q11SetOps _,
    "q12_top_k" -> q12TopK _,
    "q13_scalar_funcs" -> q13ScalarFuncs _,
    "q14_date_funcs" -> q14DateFuncs _,
    "q15_having" -> q15Having _,
    "q16_rollup" -> q16Rollup _,
    "q17_scalar_subquery" -> q17ScalarSubquery _,
    "q18_full_outer" -> q18FullOuter _,
    "q19_cross_join" -> q19CrossJoin _,
    "q25_pivot" -> q25Pivot _,
    "q26_percentile" -> q26Percentile _,
    "q27_salted_agg" -> q27SaltedAgg _,
    "q29_cube" -> q29Cube _,
    "q34_approx_distinct" -> q34ApproxDistinct _,
    "q38_grouping_sets" -> q38GroupingSets _,
    "q39_lateral_topk" -> q39LateralTopK _,
    "q47_bucketed_join" -> q47BucketedJoin _,
    "q48_exists" -> q48Exists _,
    "q49_partition_pruning" -> q49PartitionPruning _,
    "q68_sql_surface" -> q68SqlSurface _,
    "q76_topk_custom" -> q76TopKCustom _,
    "q82_approx_percentile" -> q82ApproxPercentile _,
    "q94_map_explode" -> q94MapExplode _,
    "q95_unpivot" -> q95Unpivot _,
    "q101_salted_join" -> q101SaltedJoin _,
    "q177_aqe_skew_join" -> q177AqeSkewJoin _,
    "q179_runtime_bloom_join" -> q179RuntimeBloomJoin _,
    "q180_dynamic_partition_pruning" -> q180DynamicPartitionPruning _,
  )

  val oracle: Map[String, String] = Map(
    "q201_sql_pivot_unpivot" -> q201Sql,
    "q210_cache_table" -> q210Sql,
    "q212_sql_pipe_syntax" -> q212Sql,
    "q213_ignore_nulls" -> q213Sql,
    "q215_distribute_sort_by" -> q215Sql,
    "q216_script_transform" -> q216Sql,
    "q218_try_safe_arithmetic" -> q218Sql,
    "q219_collations" -> q219Sql,
    "q220_interval_arithmetic" -> q220Sql,
    "q221_map_hofs" -> q221Sql,
    "q222_generator_breadth" -> q222Sql,
    "q1_pricing_summary" -> q1Sql,
    "q2_filter_project" -> q2Sql,
    "q3_top_revenue" -> q3Sql,
    "q4_region_agg" -> q4Sql,
    "q5_semi_join" -> q5Sql,
    "q6_anti_join" -> q6Sql,
    "q7_outer_join" -> q7Sql,
    "q8_window_rank" -> q8Sql,
    "q9_window_running" -> q9Sql,
    "q10_distinct_agg" -> q10Sql,
    "q11_set_ops" -> q11Sql,
    "q12_top_k" -> q12Sql,
    "q13_scalar_funcs" -> q13Sql,
    "q14_date_funcs" -> q14Sql,
    "q15_having" -> q15Sql,
    "q16_rollup" -> q16Sql,
    "q17_scalar_subquery" -> q17Sql,
    "q18_full_outer" -> q18Sql,
    "q19_cross_join" -> q19Sql,
    "q25_pivot" -> q25Sql,
    "q26_percentile" -> q26Sql,
    "q27_salted_agg" -> q27Sql,
    "q29_cube" -> q29Sql,
    "q38_grouping_sets" -> q38Sql,
    "q39_lateral_topk" -> q39Sql,
    "q47_bucketed_join" -> q47Sql,
    "q48_exists" -> q48Sql,
    "q49_partition_pruning" -> q49Sql,
    "q68_sql_surface" -> q68Sql,
    "q76_topk_custom" -> q76Sql,
    "q94_map_explode" -> q94Sql,
    "q95_unpivot" -> q95Sql,
    "q101_salted_join" -> q101Sql,
    "q177_aqe_skew_join" -> q177Sql,
    "q179_runtime_bloom_join" -> q179Sql,
    "q180_dynamic_partition_pruning" -> q180Sql,
  )
}
