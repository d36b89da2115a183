package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** TPC-DS sample pack, batch 19 — the final seven
  * (`/root/reference/extension/tpcds/dsdgen/queries/{84,85,86,89,91,94,99}.sql`),
  * fixture-adapted like the earlier batches; with this batch all 99
  * benchmark shapes have a fixture analog:
  *
  *  - q84: customer chain across dimensions with an income-band bound
  *         pair, semi-joined to return activity; concat(coalesce) name
  *         rendering.
  *  - q85: per-reason exact averages over returns behind two demographic
  *         OR-blocks.
  *  - q86: ROLLUP + GROUPING() hierarchy level + rank within parent —
  *         the lochierarchy shape.
  *  - q89: (category, brand, month) sums vs the category-brand yearly
  *         average, kept when off by more than 10%.
  *  - q91: call-center-style loss report behind paired demographic
  *         gates.
  *  - q94: the q16 web sibling: distinct-order count with EXISTS other-
  *         supplier AND NOT EXISTS returns on the odd-line channel.
  *  - q99: ship-lag day buckets per (nation prefix, status, priority).
  *
  * Scale shapes: existence gates are semi/anti joins; the q86 rank
  * windows over ROLLUP'd aggregates; deviation and band gates stay in
  * exact integer mantissas (cross-multiplied, never divided).
  */
object Tpcds19 extends Pack {

  // ---- DS Q84: dimension chain + income band + return activity -----------
  built("q_ds84_income_band_chain",
    """SELECT c_custkey AS customer_id,
      |  concat(concat(coalesce(c_name, ''), ', '), coalesce(c_mktsegment, ''))
      |    AS customername
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE n_regionkey = 1
      |  AND c_acctbal >= 1000 AND c_acctbal <= 6000
      |  AND c_custkey IN (
      |    SELECT o_custkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |    WHERE l_returnflag = 'R')
      |ORDER BY customer_id LIMIT 100""") { (s, dir) =>
    val returners = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .select("l_orderkey"), col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_custkey")
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir).filter(col("n_regionkey") === 1)
        .select("n_nationkey")), col("c_nationkey") === col("n_nationkey"), "left_semi")
      .filter(col("c_acctbal") >= 1000 && col("c_acctbal") <= 6000)
      .join(returners, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey").as("customer_id"),
        concat(concat(coalesce(col("c_name"), lit("")), lit(", ")),
          coalesce(col("c_mktsegment"), lit(""))).as("customername"))
      .orderBy("customer_id").limit(100)
  }

  // ---- DS Q85: per-reason return averages behind demo OR-blocks ----------
  // "reason" = order priority of the returned line's order
  q("q_ds85_reason_averages",
    s"""SELECT substr(o_orderpriority, 1, 20) AS reason,
       |  ${favgSql("l_quantity", 2)} AS avg1,
       |  ${favgSql("l_extendedprice", 2)} AS avg2,
       |  ${favgSql("l_tax", 2)} AS avg3
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE l_returnflag = 'R'
       |  AND ((c_mktsegment = 'AUTOMOBILE' AND l_quantity BETWEEN 1 AND 20)
       |    OR (c_mktsegment = 'FURNITURE' AND l_quantity BETWEEN 15 AND 35)
       |    OR (c_mktsegment = 'MACHINERY' AND l_quantity BETWEEN 30 AND 50))
       |  AND ((c_nationkey < 8 AND o_totalprice BETWEEN 0 AND 150000)
       |    OR (c_nationkey >= 8 AND o_totalprice BETWEEN 100000 AND 400000))
       |GROUP BY 1 ORDER BY 1""")

  // ---- DS Q86: ROLLUP + GROUPING() hierarchy + rank within parent --------
  // Same SQL text on both engines (GROUPING() over rollup + rank windows
  // keyed by the grouping level — the lochierarchy shape)
  private val ds86Sql =
    s"""WITH base AS (
       |  SELECT p_mfgr_word AS category, p_brand AS class,
       |    CAST(sum(m) AS BIGINT) AS total_sum,
       |    grouping(p_mfgr_word) + grouping(p_brand) AS lochierarchy,
       |    CASE WHEN grouping(p_brand) = 0 THEN p_mfgr_word END AS parent,
       |    grouping(p_mfgr_word) AS g_cat, grouping(p_brand) AS g_cls
       |  FROM (
       |    SELECT split_part(p_type, ' ', 1) AS p_mfgr_word, p_brand,
       |      ${fxSql("l_extendedprice", 2)} AS m
       |    FROM lineitem JOIN part ON p_partkey = l_partkey
       |    WHERE year(l_shipdate) = 1996) t
       |  GROUP BY ROLLUP(p_mfgr_word, p_brand))
       |SELECT total_sum, category, class, lochierarchy,
       |  rank() OVER (PARTITION BY lochierarchy, parent
       |               ORDER BY total_sum DESC, class) AS rank_within_parent
       |FROM base
       |ORDER BY lochierarchy DESC, parent NULLS FIRST, rank_within_parent""".stripMargin
  q("q_ds86_rollup_rank_hierarchy", ds86Sql)

  // ---- DS Q89: (category, brand, month) sums vs yearly average -----------
  q("q_ds89_monthly_vs_avg",
    s"""WITH m AS (
       |  SELECT split_part(p_type, ' ', 1) AS cat, p_brand,
       |    month(l_shipdate) AS moy,
       |    sum(${fxSql("l_extendedprice", 2)}) AS msum
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE year(l_shipdate) = 1996 AND p_size <= 25
       |  GROUP BY 1, 2, 3),
       |w AS (
       |  SELECT cat, p_brand, moy, msum,
       |    CAST(sum(msum) OVER (PARTITION BY cat, p_brand) AS DECIMAL(38,0)) AS s,
       |    count(*) OVER (PARTITION BY cat, p_brand) AS n
       |  FROM m)
       |SELECT cat, p_brand, moy, (CAST(msum AS DOUBLE) / 100.0) AS sum_sales
       |FROM w WHERE abs(CAST(msum AS DECIMAL(38,0)) * n - s) * 10 > s
       |ORDER BY cat, p_brand, moy""")

  // ---- DS Q91: loss report behind paired demographic gates ---------------
  q("q_ds91_return_loss_report",
    s"""SELECT s_nationkey AS call_center, n_name AS center_name,
       |  (CAST(sum(${fxSql("l_extendedprice", 2)}) AS DOUBLE) / 100.0)
       |    AS returns_loss
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE l_returnflag = 'R'
       |  AND year(l_shipdate) = 1996 AND month(l_shipdate) = 11
       |  AND ((c_mktsegment = 'BUILDING' AND c_acctbal < 5000)
       |    OR (c_mktsegment = 'AUTOMOBILE' AND c_acctbal >= 5000))
       |GROUP BY 1, 2 ORDER BY 1""")

  // ---- DS Q94: the q16 web sibling (odd-line channel) --------------------
  q("q_ds94_web_multi_supplier_noret",
    s"""SELECT count(DISTINCT l1.l_orderkey) AS order_count,
       |  ${fsumSql("l1.l_extendedprice", 2)} AS total_price
       |FROM lineitem l1
       |JOIN orders ON l1.l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE l1.l_linenumber % 2 = 1
       |  AND c_nationkey >= 10
       |  AND l1.l_shipdate BETWEEN DATE '1997-02-01' AND DATE '1997-04-02'
       |  AND EXISTS (SELECT 1 FROM lineitem l2
       |              WHERE l2.l_orderkey = l1.l_orderkey
       |                AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
       |                  WHERE l3.l_orderkey = l1.l_orderkey
       |                    AND l3.l_returnflag = 'R')""")

  // ---- DS Q99: ship-lag buckets per (nation prefix, status, priority) ----
  built("q_ds99_ship_lag_buckets",
    """SELECT substr(n_name, 1, 5) AS w_substr, l_linestatus, o_orderpriority,
      |  CAST(sum(CASE WHEN lag <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(sum(CASE WHEN lag > 30 AND lag <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      |  CAST(sum(CASE WHEN lag > 60 AND lag <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      |  CAST(sum(CASE WHEN lag > 90 AND lag <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
      |  CAST(sum(CASE WHEN lag > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120plus
      |FROM (
      |  SELECT s_nationkey, l_linestatus, o_orderpriority,
      |    datediff('day', o_orderdate, l_shipdate) AS lag
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE year(o_orderdate) = 1997) t
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_linestatus")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate",
        "o_orderpriority"), col("l_orderkey") === col("o_orderkey"))
      .filter(year(col("o_orderdate")) === 1997)
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .withColumn("lag", datediff(col("l_shipdate"), col("o_orderdate")))
      .groupBy(substring(col("n_name"), 1, 5).as("w_substr"),
        col("l_linestatus"), col("o_orderpriority"))
      .agg(sum(when(col("lag") <= 30, 1).otherwise(0)).cast("bigint").as("d30"),
        sum(when(col("lag") > 30 && col("lag") <= 60, 1).otherwise(0))
          .cast("bigint").as("d60"),
        sum(when(col("lag") > 60 && col("lag") <= 90, 1).otherwise(0))
          .cast("bigint").as("d90"),
        sum(when(col("lag") > 90 && col("lag") <= 120, 1).otherwise(0))
          .cast("bigint").as("d120"),
        sum(when(col("lag") > 120, 1).otherwise(0)).cast("bigint").as("d120plus"))
      .orderBy("w_substr", "l_linestatus", "o_orderpriority")
  }
}
