package graft.queries

import Q._

/** TPC-DS sample pack, batch 7
  * (`/root/reference/extension/tpcds/dsdgen/queries/{04,21,90,92,97}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q4:  year-over-year growth ratio compared ACROSS channels per
  *         customer — one grouped (customer, year, channel) aggregate
  *         consumed by four filtered self-joins; the ratio comparison
  *         cross-multiplies exact mantissas (no division in the gate).
  *  - q21: before/after a pivot date per group from ONE scan
  *         (conditional aggregation), band-filtered on the exact sums.
  *  - q90: am/pm activity ratio — two conditional counts, one division
  *         at render.
  *  - q92: rows exceeding 1.3× their own group's average (correlated
  *         scalar over the same table), excess summed exactly.
  *  - q97: FULL OUTER overlap of two channel key sets → both/only-left/
  *         only-right counts.
  *
  * Scale shapes: the q4 self-joins run over per-(customer, year)
  * aggregates; q21/q90 are single-scan conditional aggregations; q92
  * joins the fact to a broadcastable per-part aggregate; q97's full
  * outer joins two pre-distinct key sets (shuffle on the key, no
  * row explosion).
  */
object Tpcds7 extends Pack {

  // ---- DS Q4: cross-channel year-over-year growth gate -------------------
  // channel o = order totals, channel l = lineitem net revenue; keep
  // customers whose lineitem-channel growth beats the order-channel
  // growth: (l96/l95) > (o96/o95)  ⟺  l96·o95 > o96·l95 (all mantissas
  // positive — fixture money is positive).
  q("q_ds4_yoy_growth",
    s"""WITH yt AS (
       |  SELECT o_custkey AS ck, year(o_orderdate) AS yr,
       |    sum(${fxSql("o_totalprice", 2)}) AS mo,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS ml
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE year(o_orderdate) IN (1995, 1996)
       |  GROUP BY 1, 2)
       |SELECT y1.ck AS c_custkey,
       |  CAST(y1.mo AS DOUBLE) / 100.0 AS ord_y1,
       |  CAST(y2.mo AS DOUBLE) / 100.0 AS ord_y2,
       |  CAST(y1.ml AS DOUBLE) / 10000.0 AS line_y1,
       |  CAST(y2.ml AS DOUBLE) / 10000.0 AS line_y2
       |FROM yt y1 JOIN yt y2 ON y1.ck = y2.ck
       |WHERE y1.yr = 1995 AND y2.yr = 1996
       |  AND CAST(y2.ml AS DECIMAL(38,0)) * y1.mo > CAST(y2.mo AS DECIMAL(38,0)) * y1.ml
       |ORDER BY c_custkey""")

  // ---- DS Q21: before/after pivot-date quantities from one scan ----------
  q("q_ds21_before_after",
    """SELECT l_suppkey,
      |  CAST(sum(CASE WHEN l_shipdate < DATE '1996-01-01'
      |                THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_before,
      |  CAST(sum(CASE WHEN l_shipdate >= DATE '1996-01-01'
      |                THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty_after
      |FROM lineitem
      |WHERE l_shipdate BETWEEN DATE '1995-07-01' AND DATE '1996-06-30'
      |GROUP BY l_suppkey
      |HAVING sum(CASE WHEN l_shipdate < DATE '1996-01-01'
      |               THEN CAST(l_quantity AS BIGINT) ELSE 0 END) * 2
      |     < sum(CASE WHEN l_shipdate >= DATE '1996-01-01'
      |               THEN CAST(l_quantity AS BIGINT) ELSE 0 END) * 3
      |ORDER BY l_suppkey""")

  // ---- DS Q90: am/pm activity ratio --------------------------------------
  q("q_ds90_ampm_ratio",
    """SELECT event_type,
      |  CAST(sum(CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_am,
      |  CAST(sum(CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_pm,
      |  CAST(sum(CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / sum(CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END) AS am_pm_ratio
      |FROM events GROUP BY event_type ORDER BY event_type""")

  // ---- DS Q92: rows above 1.3× their group's average ---------------------
  // Per-part avg discount as exact mantissa moments; the >1.3× gate
  // cross-multiplies (10·d·cnt > 13·sum); the per-part aggregate is
  // dimension-sized → broadcastable to the fact probe.
  q("q_ds92_excess_discount",
    s"""WITH pa AS (
       |  SELECT l_partkey AS pk,
       |    sum(${fxSql("l_discount", 2)}) AS sd, count(*) AS cnt
       |  FROM lineitem GROUP BY 1)
       |SELECT count(*) AS n_excess,
       |  ${fsumSql("l_extendedprice * l_discount", 4)} AS excess_revenue
       |FROM lineitem JOIN pa ON l_partkey = pk
       |WHERE CAST(10 AS DECIMAL(38,0)) * ${fxSql("l_discount", 2)} * cnt
       |    > CAST(13 AS DECIMAL(38,0)) * sd""")

  // ---- DS Q97: channel-overlap counts via FULL OUTER ---------------------
  q("q_ds97_channel_overlap",
    """WITH ch1 AS (SELECT DISTINCT o_custkey AS ck FROM orders WHERE year(o_orderdate) = 1995),
      |ch2 AS (SELECT DISTINCT o_custkey AS ck FROM orders WHERE year(o_orderdate) = 1996)
      |SELECT
      |  CAST(sum(CASE WHEN ch1.ck IS NOT NULL AND ch2.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
      |  CAST(sum(CASE WHEN ch1.ck IS NOT NULL AND ch2.ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_1,
      |  CAST(sum(CASE WHEN ch1.ck IS NULL AND ch2.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_2
      |FROM ch1 FULL OUTER JOIN ch2 ON ch1.ck = ch2.ck""")
}
