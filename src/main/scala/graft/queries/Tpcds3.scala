package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** TPC-DS sample pack, batch 3 — six more planner shapes
  * (`/root/reference/extension/tpcds/dsdgen/queries/{09,17,23,31,54,62}.sql`),
  * fixture-adapted like Tpcds/Tpcds2:
  *
  *  - q9:  CASE whose branches are PAIRED scalar subqueries over the same
  *         band (count decides which average is reported) — six
  *         independent aggregates folded into three output columns
  *  - q17: per-item multi-channel statistics (count/avg/stddev per
  *         channel in one row — FILTER-clause form of the triple-join)
  *  - q31: quarter-over-quarter growth — the per-(group, quarter)
  *         aggregate self-joined across quarters, ratios compared
  *         BETWEEN channels
  *  - q23: frequent-item set × percentile-gated best-customer set
  *         (quantile scalar subquery over an aggregate)
  *  - q54: double aggregation (per-customer spend → band histogram)
  *  - q62: multi-CASE lag-bucket counting over a date difference
  *
  * stddev outputs are rounded to 6 dp (the q_stats_agg convention:
  * float accumulation is not exactly associative across engines).
  */
object Tpcds3 extends Pack {

  // ---- DS Q9: banded CASE over paired scalar subqueries ------------------
  private def band(lo: Int, hi: Int, thresh: Long) =
    s"""CASE WHEN (SELECT count(*) FROM lineitem
       |           WHERE l_quantity BETWEEN $lo AND $hi) > $thresh
       |     THEN (SELECT ${favgSql("l_extendedprice", 2)} FROM lineitem
       |           WHERE l_quantity BETWEEN $lo AND $hi)
       |     ELSE (SELECT ${favgSql("l_discount", 2)} FROM lineitem
       |           WHERE l_quantity BETWEEN $lo AND $hi)
       |END""".stripMargin
  private val q9Sql =
    s"""SELECT
       |  ${band(1, 15, 20000)} AS bucket1,
       |  ${band(16, 35, 20000)} AS bucket2,
       |  ${band(36, 50, 20000)} AS bucket3""".stripMargin
  q("q_ds9_band_case", q9Sql)

  // ---- DS Q17: per-brand multi-channel quantity statistics ---------------
  q("q_ds17_channel_stats",
    """SELECT p_brand,
      |  count(*) FILTER (WHERE l_linestatus = 'O') AS web_cnt,
      |  round(avg(l_quantity) FILTER (WHERE l_linestatus = 'O'), 6) AS web_avg,
      |  round(stddev_samp(l_quantity) FILTER (WHERE l_linestatus = 'O'), 6) AS web_sd,
      |  count(*) FILTER (WHERE l_linestatus = 'F') AS store_cnt,
      |  round(avg(l_quantity) FILTER (WHERE l_linestatus = 'F'), 6) AS store_avg,
      |  round(stddev_samp(l_quantity) FILTER (WHERE l_linestatus = 'F'), 6) AS store_sd
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_size <= 10
      |GROUP BY p_brand ORDER BY p_brand""")

  // ---- DS Q31: quarter-over-quarter growth, channel-compared -------------
  // (the per-(nation, quarter) channel aggregates self-joined across three
  // quarters; report groups where the web channel grew faster than the
  // store channel from Q1 to Q2 of 1995)
  built("q_ds31_qoq_growth",
    s"""WITH ss AS (
       |  SELECT c_nationkey AS nk, quarter(o_orderdate) AS q,
       |    sum(${fxSql("l_extendedprice", 2)}) AS rev
       |  FROM lineitem
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  WHERE l_linestatus = 'F' AND year(o_orderdate) = 1995
       |  GROUP BY 1, 2),
       |ws AS (
       |  SELECT c_nationkey AS nk, quarter(o_orderdate) AS q,
       |    sum(${fxSql("l_extendedprice", 2)}) AS rev
       |  FROM lineitem
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  WHERE l_linestatus = 'O' AND year(o_orderdate) = 1995
       |  GROUP BY 1, 2)
       |SELECT n_name,
       |  CAST(ws2.rev AS DOUBLE) / ws1.rev AS web_q1_q2,
       |  CAST(ss2.rev AS DOUBLE) / ss1.rev AS store_q1_q2,
       |  CAST(ws3.rev AS DOUBLE) / ws2.rev AS web_q2_q3,
       |  CAST(ss3.rev AS DOUBLE) / ss2.rev AS store_q2_q3
       |FROM ss ss1 JOIN ss ss2 ON ss1.nk = ss2.nk AND ss1.q = 1 AND ss2.q = 2
       |JOIN ss ss3 ON ss2.nk = ss3.nk AND ss3.q = 3
       |JOIN ws ws1 ON ws1.nk = ss1.nk AND ws1.q = 1
       |JOIN ws ws2 ON ws2.nk = ss1.nk AND ws2.q = 2
       |JOIN ws ws3 ON ws3.nk = ss1.nk AND ws3.q = 3
       |JOIN nation ON n_nationkey = ss1.nk
       |WHERE CAST(ws2.rev AS DOUBLE) / ws1.rev > CAST(ss2.rev AS DOUBLE) / ss1.rev
       |ORDER BY n_name""") { (s, dir) =>
    // the oracle spells the reference's six-way self-join of the quarter
    // CTE; Spark-side the same result is ONE conditional-aggregation pass
    // per channel (sum FILTER quarter=q) — the materialized-CTE plan the
    // reference's optimizer would pick, without re-running the
    // lineitem⋈orders⋈customer join once per self-join leg
    val o = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")) === 1995)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    def qsum(status: String, qtr: Int) =
      sum(when(col("l_linestatus") === status && quarter(col("o_orderdate")) === qtr,
        fx(col("l_extendedprice"), 2))).as(s"${status}_q$qtr")
    val agg = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_extendedprice", "l_linestatus")
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, dir).select("c_custkey", "c_nationkey")),
        col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(qsum("F", 1), qsum("F", 2), qsum("F", 3),
        qsum("O", 1), qsum("O", 2), qsum("O", 3))
      // inner self-joins only keep nations present in every leg
      .filter((1 to 3).map(q => col(s"F_q$q").isNotNull && col(s"O_q$q").isNotNull)
        .reduce(_ && _))
    agg
      .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
        col("n_nationkey") === col("nk"))
      .select(col("n_name"),
        (col("O_q2").cast("double") / col("O_q1")).as("web_q1_q2"),
        (col("F_q2").cast("double") / col("F_q1")).as("store_q1_q2"),
        (col("O_q3").cast("double") / col("O_q2")).as("web_q2_q3"),
        (col("F_q3").cast("double") / col("F_q2")).as("store_q2_q3"))
      .filter(col("web_q1_q2") > col("store_q1_q2"))
      .orderBy("n_name")
  }

  // ---- DS Q23: frequent items × best customers (percentile threshold) ----
  // (two filter CTEs — a HAVING-count item set and a quantile-gated
  // customer set — intersected against the fact; the 95th-percentile
  // scalar subquery is the shape nothing else covers)
  q("q_ds23_frequent_best",
    s"""WITH per_cust AS (
       |  SELECT o_custkey, sum(${fxSql("o_totalprice", 2)}) AS spend
       |  FROM orders GROUP BY o_custkey),
       |best AS (
       |  SELECT o_custkey FROM per_cust
       |  WHERE CAST(spend AS DOUBLE) >=
       |    (SELECT quantile_cont(CAST(spend AS DOUBLE), 0.95) FROM per_cust)),
       |freq AS (
       |  SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING count(*) > 8)
       |SELECT ${fsumSql("l_extendedprice", 2)} AS revenue, count(*) AS n_items
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN best ON best.o_custkey = orders.o_custkey
       |JOIN freq ON freq.l_partkey = lineitem.l_partkey""")

  // ---- DS Q54: customer revenue-band histogram (double aggregation) ------
  q("q_ds54_revenue_bands",
    s"""WITH per_cust AS (
       |  SELECT o_custkey, sum(${fxSql("o_totalprice", 2)}) AS spend
       |  FROM orders GROUP BY o_custkey)
       |SELECT CAST(floor(CAST(spend AS DOUBLE) / 100.0 / 50000.0) AS BIGINT) AS band,
       |  count(*) AS n_customers
       |FROM per_cust GROUP BY band ORDER BY band""")

  // ---- DS Q62: shipping-lag bucket counts (multi-CASE counting) ----------
  built("q_ds62_ship_lag",
    """SELECT month(o_orderdate) AS m, o_orderpriority,
      |  CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 30
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 30
      |       AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 60
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      |  CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
      |       AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 90
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      |  CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 90
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d_over
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
    val lag = datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
    def bucket(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 1).otherwise(0)).cast("bigint")
    Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(month(col("o_orderdate")).as("m"), col("o_orderpriority"))
      .agg(
        bucket(lag <= 30).as("d30"),
        bucket(lag > 30 && lag <= 60).as("d60"),
        bucket(lag > 60 && lag <= 90).as("d90"),
        bucket(lag > 90).as("d_over"))
      .orderBy("m", "o_orderpriority")
  }
}
