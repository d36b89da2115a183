package graft.queries

import Q._

/** TPC-DS sample pack, batch 9
  * (`/root/reference/extension/tpcds/dsdgen/queries/{61,77,83,87}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q87: EXCEPT chain over per-period distinct key sets (set-op planner
  *         shape: two anti joins over pre-distinct projections).
  *  - q77: per-group profit-and-loss — two INDEPENDENT aggregate
  *         pipelines stitched FULL OUTER, plus the grand-total row
  *         (union of the re-aggregate).
  *  - q61: promotional-revenue ratio — join of two filtered aggregates,
  *         one division at render.
  *  - q83: keys returned in ALL periods (INTERSECT chain) joined back to
  *         the per-period counts.
  *
  * Scale shapes: set ops run over DISTINCT-projected key columns (tiny
  * vs the fact); the P&L stitch full-outers two already-aggregated
  * frames; the ratio join is dimension-sized. Money stays in exact fx
  * mantissas until the final render.
  */
object Tpcds9 extends Pack {

  // ---- DS Q87: EXCEPT chain over per-year customer sets ------------------
  q("q_ds87_except_chain",
    """SELECT count(*) AS n_lapsed FROM (
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |  EXCEPT
      |  SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)""")

  // ---- DS Q77: channel P&L full-outer stitch + grand total ---------------
  // sales channel = order totals per nation; returns channel = R-flagged
  // lineitem revenue per nation. Aggregated independently, stitched FULL
  // OUTER, then the grand-total row unioned on top (grouping-id style).
  q("q_ds77_channel_pl",
    s"""WITH sales AS (
       |  SELECT c_nationkey AS nk, sum(${fxSql("o_totalprice", 2)}) AS ms
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE year(o_orderdate) = 1995 GROUP BY 1),
       |ret AS (
       |  SELECT c_nationkey AS nk, sum(${fxSql("l_extendedprice", 2)}) AS mr
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE l_returnflag = 'R' AND year(o_orderdate) = 1995 GROUP BY 1),
       |pl AS (
       |  SELECT coalesce(sales.nk, ret.nk) AS nk,
       |    coalesce(ms, 0) AS ms, coalesce(mr, 0) AS mr
       |  FROM sales FULL OUTER JOIN ret ON sales.nk = ret.nk)
       |SELECT nk, CAST(ms AS DOUBLE) / 100.0 AS sales_total,
       |  CAST(mr AS DOUBLE) / 100.0 AS returns_total,
       |  CAST(ms - mr AS DOUBLE) / 100.0 AS net
       |FROM pl
       |UNION ALL
       |SELECT -1 AS nk, CAST(sum(ms) AS DOUBLE) / 100.0,
       |  CAST(sum(mr) AS DOUBLE) / 100.0, CAST(sum(ms - mr) AS DOUBLE) / 100.0
       |FROM pl
       |ORDER BY nk""")

  // ---- DS Q61: promotional-revenue ratio ---------------------------------
  q("q_ds61_promo_ratio",
    s"""WITH promo AS (
       |  SELECT c_nationkey AS nk,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS mp
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE p_type = 'PROMO' GROUP BY 1),
       |allrev AS (
       |  SELECT c_nationkey AS nk,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS ma
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  GROUP BY 1)
       |SELECT allrev.nk AS nk,
       |  CAST(coalesce(mp, 0) AS DOUBLE) / 10000.0 AS promo_rev,
       |  CAST(ma AS DOUBLE) / 10000.0 AS total_rev,
       |  CAST(coalesce(mp, 0) AS DOUBLE) * 100 / ma AS promo_pct
       |FROM allrev LEFT JOIN promo ON allrev.nk = promo.nk
       |ORDER BY nk""")

  // ---- DS Q83: keys returned in every period, joined back ----------------
  q("q_ds83_returns_intersect",
    """WITH r95 AS (SELECT DISTINCT l_partkey AS pk FROM lineitem
      |             WHERE l_returnflag = 'R' AND year(l_shipdate) = 1995),
      |r96 AS (SELECT DISTINCT l_partkey AS pk FROM lineitem
      |        WHERE l_returnflag = 'R' AND year(l_shipdate) = 1996),
      |r97 AS (SELECT DISTINCT l_partkey AS pk FROM lineitem
      |        WHERE l_returnflag = 'R' AND year(l_shipdate) = 1997),
      |allyrs AS (SELECT pk FROM r95 INTERSECT SELECT pk FROM r96
      |           INTERSECT SELECT pk FROM r97)
      |SELECT year(l_shipdate) AS yr, count(*) AS n_returns,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ret_qty
      |FROM lineitem JOIN allyrs ON l_partkey = pk
      |WHERE l_returnflag = 'R' AND year(l_shipdate) IN (1995, 1996, 1997)
      |GROUP BY 1 ORDER BY 1""")
}
