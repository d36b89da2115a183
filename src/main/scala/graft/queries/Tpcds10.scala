package graft.queries

import Q._

/** TPC-DS sample pack, batch 10
  * (`/root/reference/extension/tpcds/dsdgen/queries/{46,67,70}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q67: top-k per group over a ROLLUP result — the window partitions
  *         on a grouping COLUMN (subtotal rows rank inside their own
  *         partition), not the grouping level.
  *  - q70: a dimension pre-filtered by a windowed aggregate of the fact
  *         (top-k states by revenue), then the detail rollup runs only
  *         over survivors — rank-subquery semi-join into rollup.
  *  - q46: per-order aggregation over TWO dimension paths (customer
  *         nation vs suppliers' nations) with a mismatch predicate
  *         between them.
  *
  * Scale shapes: windows run over rollup/aggregate outputs (dimension-
  * sized); the q70 semi join broadcasts the rank-filtered key set; q46
  * aggregates per order before any mismatch filtering. Money stays in
  * exact fx mantissas; ranks order exact BIGINTs.
  */
object Tpcds10 extends Pack {

  // ---- DS Q67: top-3 months per brand over the ROLLUP result -------------
  // (window-over-grouping-sets with a grouping-column partition: each
  // brand's subtotal row ranks within the brand's partition; the
  // grand-total row forms its own)
  q("q_ds67_rollup_topk",
    s"""WITH r AS (
       |  SELECT p_brand AS brand, month(l_shipdate) AS mo,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS msum,
       |    grouping(p_brand) AS g_brand, grouping(month(l_shipdate)) AS g_mo
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE year(l_shipdate) = 1995
       |  GROUP BY ROLLUP (p_brand, month(l_shipdate)))
       |SELECT brand, mo, g_brand, g_mo,
       |  CAST(msum AS DOUBLE) / 10000.0 AS revenue, rnk
       |FROM (
       |  SELECT *, rank() OVER (PARTITION BY g_brand, brand
       |                         ORDER BY msum DESC, g_mo, mo) AS rnk
       |  FROM r)
       |WHERE rnk <= 3 ORDER BY g_brand, brand, rnk""")

  // ---- DS Q70: rollup restricted to rank-filtered dimension members ------
  q("q_ds70_ranked_states",
    s"""WITH top_n AS (
       |  SELECT nk FROM (
       |    SELECT c_nationkey AS nk,
       |      rank() OVER (ORDER BY sum(${fxSql("o_totalprice", 2)}) DESC, c_nationkey) AS rnk
       |    FROM orders JOIN customer ON o_custkey = c_custkey
       |    WHERE year(o_orderdate) = 1995
       |    GROUP BY c_nationkey)
       |  WHERE rnk <= 5)
       |SELECT c_nationkey, c_mktsegment,
       |  CAST(sum(${fxSql("o_totalprice", 2)}) AS DOUBLE) / 100.0 AS revenue,
       |  count(*) AS n_orders
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE year(o_orderdate) = 1995
       |  AND c_nationkey IN (SELECT nk FROM top_n)
       |GROUP BY ROLLUP (c_nationkey, c_mktsegment)
       |ORDER BY c_nationkey NULLS FIRST, c_mktsegment NULLS FIRST""")

  // ---- DS Q46: two-dimension-path mismatch per order ---------------------
  // Orders whose lineitems ship from a DIFFERENT nation than the
  // customer's: per-order aggregate over the supplier path compared to
  // the customer path attribute, then re-aggregated per nation.
  q("q_ds46_nation_mismatch",
    s"""WITH per_order AS (
       |  SELECT o_orderkey, c_nationkey,
       |    sum(CASE WHEN s_nationkey <> c_nationkey THEN 1 ELSE 0 END) AS n_mismatch,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS msum
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE year(o_orderdate) = 1995
       |  GROUP BY 1, 2)
       |SELECT c_nationkey,
       |  count(*) AS n_cross_orders,
       |  CAST(sum(msum) AS DOUBLE) / 10000.0 AS cross_revenue
       |FROM per_order WHERE n_mismatch > 0
       |GROUP BY c_nationkey ORDER BY c_nationkey""")
}
