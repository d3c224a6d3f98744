package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** General relational capability: aggregation pipelines, shuffle joins,
  * broadcast joins, analytic windows, semi/anti joins, rollup, top-k.
  *
  * Scale design notes (100 TB target):
  *  - fact-fact joins (orders ⨝ lineitem) shuffle on the join key — at
  *    scale these become sort-merge joins; AQE handles skew splitting;
  *  - dimension joins (region/nation/customer/supplier) are explicit
  *    `broadcast()` — zero shuffle of the fact side;
  *  - all filters sit directly on the scan so Catalyst pushes them into
  *    the parquet reader (check: PushedFilters in explain);
  *  - top-k = orderBy+limit → Spark's TakeOrderedAndProject (no global
  *    sort materialization).
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: the canonical partial-agg shape —
    * map-side combine reduces 600k rows to 6 groups before the exchange.
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |       round(avg(l_quantity), 4) AS avg_qty,
      |       round(avg(l_extendedprice), 4) AS avg_price,
      |       round(avg(l_discount), 4) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** TPC-H Q3-shaped top-k revenue: two shuffle joins + agg + top 10.
    * customer is filtered then broadcast; orders⨝lineitem shuffles on
    * orderkey. Top-k avoids a global sort (TakeOrderedAndProject).
    */
  def topRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.table(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = Tables.table(spark, sfDir, "orders")
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val topRevenueSql: String =
    """SELECT l_orderkey, o_orderdate,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY 1, 2
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Star-join through the full dimension chain
    * region → nation → supplier → lineitem: every dimension broadcast,
    * so the only shuffle is the final aggregation exchange.
    */
  def supplierVolumeByNation(spark: SparkSession, sfDir: String): DataFrame = {
    val region = Tables.table(spark, sfDir, "region")
    val nation = Tables.table(spark, sfDir, "nation")
    val supplier = Tables.table(spark, sfDir, "supplier")
    val li = Tables.table(spark, sfDir, "lineitem")
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val dims = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_name"), col("r_name"))
    li.join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val supplierVolumeByNationSql: String =
    """SELECT r_name, n_name,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Analytic window: top-3 orders per customer by totalprice
    * (row_number over partitioned sort — §2.6 extension).
    */
  def topOrdersPerCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.table(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
  }

  val topOrdersPerCustomerSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** Running + frame aggregates over an ordered partition window:
    * cumulative revenue per supplier by ship date.
    */
  def runningSupplierRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.table(spark, sfDir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_extendedprice"))
      .withColumn("running_revenue", round(sum(col("l_extendedprice")).over(w), 2))
      .filter(col("l_suppkey") <= 3)
  }

  val runningSupplierRevenueSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_extendedprice,
      |       round(sum(l_extendedprice) OVER (
      |         PARTITION BY l_suppkey
      |         ORDER BY l_shipdate, l_orderkey, l_linenumber
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_revenue
      |FROM lineitem
      |WHERE l_suppkey <= 3
      |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin

  /** Left-semi join (EXISTS): customers that have at least one
    * high-value order. Semi joins ship only the key column — at scale
    * the orders side is pre-aggregated to distinct keys by the join.
    */
  def semiJoinCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val bigOrders = Tables.table(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 300000)
      .select(col("o_custkey"))
    Tables.table(spark, sfDir, "customer")
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val semiJoinCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no orders in 1995.
    * The build side is restricted to one year ON PURPOSE: "no orders
    * ever" is empty at every shipped scale factor (each customer has
    * orders), and an empty-vs-empty oracle hash cannot distinguish a
    * correct anti-join from one that drops everything — the
    * year-restricted variant asserts a non-empty result (326 rows at
    * sf0.01) so the gate has discriminating power. The filter lands
    * on the build side BEFORE the join (pushed into the orders scan),
    * which is also the plan shape that matters at scale: anti-join
    * state is proportional to the filtered build side.
    */
  def antiJoinCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = Tables.table(spark, sfDir, "orders")
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey"))
    Tables.table(spark, sfDir, "customer")
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  val antiJoinCustomersSql: String =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND year(o.o_orderdate) = 1995)
      |ORDER BY c_custkey""".stripMargin

  /** Rollup (grouping-sets family): order totals by status × priority
    * with subtotals and grand total. `grouping()` flags disambiguate
    * null-as-subtotal from null data.
    */
  def rollupOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        round(sum(col("o_totalprice")), 2).as("total_price"),
        count(lit(1)).as("n_orders"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"))

  val rollupOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       round(sum(o_totalprice), 2) AS total_price,
      |       count(*) AS n_orders,
      |       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
      |       CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""".stripMargin

  /** Correlated-scalar shape: customers whose account balance exceeds
    * their nation's average (join against a pre-aggregated subquery —
    * the decorrelated plan Catalyst would produce).
    */
  def aboveNationAvgCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.table(spark, sfDir, "customer")
    val natAvg = cust.groupBy(col("c_nationkey").as("nk"))
      .agg(avg(col("c_acctbal")).as("nation_avg"))
    cust.join(broadcast(natAvg), col("c_nationkey") === col("nk"))
      .filter(col("c_acctbal") > col("nation_avg"))
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal"), 2).as("c_acctbal"),
        round(col("nation_avg"), 4).as("nation_avg"))
  }

  val aboveNationAvgCustomersSql: String =
    """SELECT c_custkey, c_nationkey,
      |       round(c_acctbal, 2) AS c_acctbal,
      |       round(nation_avg, 4) AS nation_avg
      |FROM customer
      |JOIN (SELECT c_nationkey AS nk, avg(c_acctbal) AS nation_avg
      |      FROM customer GROUP BY 1) ON c_nationkey = nk
      |WHERE c_acctbal > nation_avg
      |ORDER BY c_custkey""".stripMargin

  /** Set operation: INTERSECT (distinct) — building-segment customers
    * that also have a high-value order. Spark plans this as an
    * aggregate-wrapped semi join.
    */
  def intersectCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val building = Tables.table(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val highValue = Tables.table(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 250000)
      .select(col("o_custkey").as("c_custkey"))
    building.intersect(highValue)
  }

  val intersectCustomersSql: String =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_totalprice > 250000
      |ORDER BY c_custkey""".stripMargin

  /** Set operation: EXCEPT (distinct) — building-segment customers with
    * no high-value order (anti-join plan).
    */
  def exceptCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val building = Tables.table(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val highValue = Tables.table(spark, sfDir, "orders")
      .filter(col("o_totalprice") > 250000)
      .select(col("o_custkey").as("c_custkey"))
    building.except(highValue)
  }

  val exceptCustomersSql: String =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_totalprice > 250000
      |ORDER BY c_custkey""".stripMargin

  /** SQL entry surface: the same engine drives ANSI SQL over registered
    * views (TPC-H Q6 shape — scan + tight filter + one aggregate; the
    * filters must reach the parquet reader as PushedFilters).
    */
  def sqlRevenueForecast(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.table(spark, sfDir, "lineitem").createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |       count(*) AS n_rows
        |FROM lineitem_v
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.09
        |  AND l_quantity < 24""".stripMargin)
  }

  val sqlRevenueForecastSql: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      |       count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.09
      |  AND l_quantity < 24""".stripMargin

  /** Sort-merge join (the third join strategy next to broadcast-hash and
    * shuffle-hash): forced via the MERGE hint — both sides exchange on
    * the key and merge sorted runs. The right default when BOTH sides
    * are too large to broadcast or hash-build; per-partition memory is
    * O(1) instead of a hash table.
    */
  def sortMergeJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .hint("merge")
      .join(
        Tables.table(spark, sfDir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("order_year"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("urgent_revenue"),
        count(lit(1)).as("n_items"))

  val sortMergeJoinSql: String =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
      |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS urgent_revenue,
      |       count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * an arbitrary, non-hierarchical set list — (status, priority),
    * (priority), () — via the SQL surface. One expand + one hash
    * aggregation, same as rollup/cube.
    */
  def groupingSetsOrders(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.table(spark, sfDir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       round(sum(o_totalprice), 2) AS total_price,
        |       count(*) AS n_orders,
        |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_priority
        |FROM orders_v
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderpriority), ())""".stripMargin)
  }

  val groupingSetsOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       round(sum(o_totalprice), 2) AS total_price,
      |       count(*) AS n_orders,
      |       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
      |       CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderpriority), ())
      |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""".stripMargin

  /** Cube: the full grouping-sets family (rollup above, cube here) —
    * totals over every subset of (status, priority).
    */
  def cubeOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.table(spark, sfDir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"))

  val cubeOrdersSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |       count(*) AS n_orders,
      |       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
      |       CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority""".stripMargin
}
