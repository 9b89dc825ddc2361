package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Tables.{dec, dsum}

/** Core relational queries: scan/filter/project, aggregation, joins
  * (broadcast + shuffled), conditionals, top-k, distinct, set ops, windows.
  *
  * These are the Spark expression of the reference's relational surface:
  * `query{}` equi-joins arise from shared qvars (reference
  * `builtin.cljc:1695-1759`), aggregation from `$sum/$max/...`
  * (`builtin.cljc:709-1001`) applied over grouped binding sets, and the
  * ternary `? :` (`parse.cljc:890-903`) becomes `when/otherwise`.
  *
  * Scale notes (100 TB target):
  *  - every query is a declarative plan: filters/projections reach the
  *    parquet scan (PushedFilters / ReadSchema), aggregates get map-side
  *    partial aggregation, small dims (region/nation) are broadcast.
  *  - no collect(), no driver-side loops; top-k is TakeOrderedAndProject.
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1-style pricing summary: groupBy + decimal-exact aggregates. */
  def q1Agg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity"), 3).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Filter + narrow projection — exercises predicate pushdown + pruning.
    * Per-row double arithmetic only (IEEE-deterministic, no decimal needed). */
  def q2FilterProject(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** TPC-H Q3-style shipping priority: 3-way join + agg + top-k. */
  def q3JoinRevenue(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    // reduce orders by the broadcast customer filter BEFORE the big
    // lineitem join — 1/5 the probe rows into the one real shuffle
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-flavored: customers per region via broadcast dim chain. */
  def q4BroadcastJoin(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d)
    val n = Tables.nation(s, d)
    val c = Tables.customer(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal"), 2).as("sum_acctbal"))
      .orderBy("r_name")
  }

  /** TPC-H Q6-style forecasting revenue: tight filter + single decimal agg. */
  def q6Revenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double").as("revenue"))

  /** Conditional buckets — JSONata `? :` ternary (parse.cljc:890-903) as
    * when/otherwise, grouped. */
  def qCaseWhen(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        when(col("o_totalprice") < 50000, "small")
          .when(col("o_totalprice") < 150000, "medium")
          .otherwise("large").as("bucket"),
        col("o_orderstatus"))
      .groupBy("bucket", "o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket", "o_orderstatus")

  /** Top-k (reference has only $sort + indexing; orderBy.limit is the
    * scalable form — physically TakeOrderedAndProject, no full sort). */
  def qTopK(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
      .select("p_partkey", "p_name", "p_retailprice")
      .limit(15)

  /** $distinct (builtin.cljc:1003-1008) at dataset level. */
  def qDistinct(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_mktsegment").distinct()
      .orderBy("c_mktsegment")

  /** Set ops beyond the reference's $append/$distinct (SURVEY §2.12):
    * customers with orders but below an account-balance floor. */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    val withOrders = Tables.orders(s, d).select(col("o_custkey").as("custkey"))
    val rich = Tables.customer(s, d).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("custkey"))
    withOrders.intersect(rich).orderBy("custkey")
  }

  /** left_semi / left_anti — EXISTS / NOT EXISTS. */
  def qAntiSemi(s: SparkSession, d: String): DataFrame = {
    // semi + anti in ONE pass: outer join against the distinct key set
    // and flag matches — the union-of-two-joins form scans and shuffles
    // orders twice for the same answer.
    val c = Tables.customer(s, d)
    val ok = Tables.orders(s, d).select(col("o_custkey")).distinct()
    c.join(ok, c("c_custkey") === ok("o_custkey"), "left")
      .select(when(col("o_custkey").isNotNull, "with_orders")
          .otherwise("no_orders").as("kind"),
        col("c_custkey").as("custkey"))
      .orderBy("kind", "custkey")
  }

  /** Window functions (SURVEY §2.12 extension): top-3 customers by balance
    * per nation + running share of nation total. */
  def qWindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_nationkey").cast("int").as("nationkey"), col("rk"),
        col("c_custkey"), col("c_acctbal"))
      .orderBy("nationkey", "rk")
  }

  /** Tumbling-hour event rollup: event counts and value sums per
    * (hour window, event type). */
  def qEventsHourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("hour", "event_type")

  /** Skew-resilient join (SURVEY §2.12 extension): events (the big,
    * power-law side) salted over 8 buckets against the replicated
    * customer dim, then rolled up per market segment. Results are
    * salt-invariant by construction — the gate pins that the salting
    * machinery changes nothing relationally (DuckDB runs the plain
    * join), while SessionSpec pins the plan-level spread.
    */
  def qSaltedJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("value"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.operators.SaltedJoin.join(ev, cust, "user_id", salts = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  val all: Map[String, Q] = Map(
    "q1_agg" -> (q1Agg _),
    "q2_filter_project" -> (q2FilterProject _),
    "q3_join_revenue" -> (q3JoinRevenue _),
    "q4_broadcast_join" -> (q4BroadcastJoin _),
    "q6_revenue" -> (q6Revenue _),
    "q_case_when" -> (qCaseWhen _),
    "q_topk" -> (qTopK _),
    "q_distinct" -> (qDistinct _),
    "q_setops" -> (qSetOps _),
    "q_anti_semi" -> (qAntiSemi _),
    "q_window_rank" -> (qWindowRank _),
    "q_events_hourly" -> (qEventsHourly _),
    "q_salted_join" -> (qSaltedJoin _))

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,3))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_join_revenue" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4_broadcast_join" ->
      """SELECT r_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q_case_when" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |  WHEN o_totalprice < 150000 THEN 'medium' ELSE 'large' END AS bucket,
        |  o_orderstatus, count(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_topk" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |ORDER BY p_retailprice DESC, p_partkey LIMIT 15""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1",
    "q_setops" ->
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY custkey""".stripMargin,
    "q_anti_semi" ->
      """SELECT 'with_orders' AS kind, c_custkey AS custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'no_orders' AS kind, c_custkey AS custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY kind, custkey""".stripMargin,
    "q_window_rank" ->
      """SELECT * FROM (
        |  SELECT CAST(c_nationkey AS INT) AS nationkey,
        |    CAST(row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rk,
        |    c_custkey, c_acctbal
        |  FROM customer)
        |WHERE rk <= 3 ORDER BY nationkey, rk""".stripMargin,
    "q_events_hourly" ->
      """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
