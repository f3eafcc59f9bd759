package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.DetMath.{avgFromSum, dec2}

/** Generic SQL surface — the reference's "fully SQL compatible" claim
  * (reference README.md:22-26): aggregation, multi-way joins (broadcast
  * for small dims), semi/anti joins, rollup, set ops, top-k, window
  * frames. TPC-H-shaped over the driver's star schema.
  *
  * Determinism: money doubles → DECIMAL before aggregation; discounts as
  * DECIMAL(4,2); `1` as DECIMAL(3,2) so both engines derive the same
  * result scale (see [[graft.functions.DetMath]]).
  */
object Relational {

  private def dec4disc(c: org.apache.spark.sql.Column) = c.cast("decimal(4,2)")
  private val oneDec = lit(BigDecimal(1.00)).cast("decimal(3,2)")

  /** TPC-H Q1-shaped pricing summary. */
  val q1 = OracleQuery(
    "q1_pricing",
    (s, d) => {
      val l = Tables.lineitem(s, d)
        .withColumn("qty", dec2(col("l_quantity")))
        .withColumn("price", dec2(col("l_extendedprice")))
        .withColumn("disc", dec4disc(col("l_discount")))
        .withColumn("tax", dec4disc(col("l_tax")))
      l.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("qty")).as("dq"),
          sum(col("price")).as("dp"),
          sum(col("price") * (oneDec - col("disc"))).as("ddp"),
          sum(col("price") * (oneDec - col("disc")) * (oneDec + col("tax"))).as("dc"),
          count(lit(1)).as("count_order"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          col("dq").cast("double").as("sum_qty"),
          col("dp").cast("double").as("sum_base_price"),
          col("ddp").cast("double").as("sum_disc_price"),
          col("dc").cast("double").as("sum_charge"),
          col("count_order"),
          avgFromSum(col("dq"), col("count_order")).as("avg_qty"),
          avgFromSum(col("dp"), col("count_order")).as("avg_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(count(*) AS BIGINT) AS count_order,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** TPC-H Q3-shaped: segment-filtered 3-way join, top-10 by revenue.
    * A market segment of `customer` grows with the data, so the broadcast
    * threshold decides its join. */
  val q3 = OracleQuery(
    "q3_topk",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < "1999-01-01")
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > "1999-01-01")
        .withColumn("rev", dec2(col("l_extendedprice")) * (oneDec - dec4disc(col("l_discount"))))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum(col("rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },
    Some("""SELECT o_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1999-01-01' AND l_shipdate > TIMESTAMP '1999-01-01'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin))

  /** TPC-H Q5-shaped: 6-way join, revenue per nation in one region.
    * region and nation are broadcast; `supplier` grows with the data, so
    * the threshold decides its join. */
  val q5 = OracleQuery(
    "q5_region",
    (s, d) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderdate") < "1998-01-01")
      val l = Tables.lineitem(s, d)
        .withColumn("rev", dec2(col("l_extendedprice")) * (oneDec - dec4disc(col("l_discount"))))
      val sup = Tables.supplier(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey"))
        .join(c, o("o_custkey") === c("c_custkey") && sup("s_nationkey") === c("c_nationkey"))
        // bound: TPC-H nation (25 rows) and region (5 rows)
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        // bound: TPC-H region (5 rows)
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin))

  /** Semi join: customers having orders, counted per segment. */
  val semiJoin = OracleQuery(
    "join_semi",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
      |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Anti join: customers without orders, counted per segment. */
  val antiJoin = OracleQuery(
    "join_anti",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
      |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  /** Left outer join: per-customer order count, keeping order-less
    * customers (count 0) — the null-extension semantics semi/anti can't
    * show. Aggregate-then-join so the outer side stays one row per key
    * before the join. */
  val outerJoin = OracleQuery(
    "join_outer",
    (s, d) => {
      val counts = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      Tables.customer(s, d)
        .join(counts, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_mktsegment, CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders
      |FROM customer
      |LEFT JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey) o
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin))

  /** ROLLUP over (status, priority) with subtotal + grand-total rows. */
  val rollupAgg = OracleQuery(
    "rollup_orders",
    (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority")),
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin))

  /** CUBE over (status, priority): all four grouping sets in one pass —
    * Catalyst expands the cube into a single aggregate over the grouped
    * expand, one shuffle regardless of grouping-set count. */
  val cubeAgg = OracleQuery(
    "cube_orders",
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority")),
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |       coalesce(o_orderpriority, 'ALL') AS priority,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin))

  /** Set operations: INTERSECT / EXCEPT branches tagged + unioned. */
  val setOps = OracleQuery(
    "set_ops",
    (s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 450000.0)
        .select(col("o_custkey").as("k")).distinct()
      val richCust = Tables.customer(s, d).filter(col("c_acctbal") > 5000.0)
        .select(col("c_custkey").as("k"))
      val both = bigOrders.intersect(richCust).withColumn("op", lit("both"))
      val onlyBig = bigOrders.except(richCust).withColumn("op", lit("only_big"))
      both.unionAll(onlyBig).select(col("op"), col("k")).orderBy(col("op"), col("k"))
    },
    Some("""WITH big AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 450000.0),
      |     rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000.0)
      |SELECT 'both' AS op, k FROM (SELECT k FROM big INTERSECT SELECT k FROM rich)
      |UNION ALL
      |SELECT 'only_big' AS op, k FROM (SELECT k FROM big EXCEPT SELECT k FROM rich)
      |ORDER BY op, k""".stripMargin))

  /** Top-k scan: ORDER BY ... LIMIT (TakeOrderedAndProject — no full sort). */
  val topkOrders = OracleQuery(
    "topk_orders",
    (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(15),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin))

  /** Window frames: per-customer order rank + running decimal total. */
  val windowRunning = OracleQuery(
    "window_running",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("run_total",
          sum(dec2(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("rn"), col("run_total"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
      |       row_number() OVER w AS rn,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin))

  /** Distribution window functions — the §2.2 window breadth beyond
    * frames/rank: ntile quartiles, percent_rank, and cume_dist of each
    * customer's account balance within their market segment (the
    * classic segmentation panel). Total-order deterministic (balance
    * ties break by custkey inside the window order) and exact:
    * percent_rank = (rank−1)/(n−1) and cume_dist = peers/n are each
    * two BIGINTs through one IEEE division on both engines. One window
    * pass, one shuffle on the segment key. */
  val windowDistribution = OracleQuery(
    "window_distribution",
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .select(col("c_mktsegment"), col("c_custkey"),
          col("c_acctbal").cast("double").as("acctbal"),
          col("quartile"), col("pct_rank"), col("cume"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    },
    Some("""SELECT c_mktsegment, c_custkey,
      |       CAST(c_acctbal AS DOUBLE) AS acctbal,
      |       ntile(4) OVER w AS quartile,
      |       percent_rank() OVER w AS pct_rank,
      |       cume_dist() OVER w AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_mktsegment, c_custkey""".stripMargin))

  /** Filter + projection pushdown showcase: brand-filtered part join. */
  val partJoin = OracleQuery(
    "part_join",
    (s, d) => {
      val p = Tables.part(s, d).filter(col("p_brand").isin("Brand#12", "Brand#23"))
      Tables.lineitem(s, d).filter(col("l_quantity") < 10.0)
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("l_extendedprice"))).cast("double").as("s"))
        .orderBy(col("p_brand"))
    },
    Some("""SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand IN ('Brand#12', 'Brand#23') AND l_quantity < 10.0
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin))

  val all: Seq[OracleQuery] = Seq(
    q1, q3, q5, semiJoin, antiJoin, outerJoin, rollupAgg, cubeAgg, setOps, topkOrders,
    windowRunning, windowDistribution, partJoin)
}
