package graft.queries

import Q._

/** TPC-DS sample pack, batch 11
  * (`/root/reference/extension/tpcds/dsdgen/queries/{24,45,69,78}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q45: disjunctive membership — IN-list OR correlated EXISTS — which
  *         cannot collapse to one semi join (plans as an ExistenceJoin
  *         feeding the OR).
  *  - q69: EXISTS AND NOT EXISTS — a semi and an anti join stacked on
  *         the same probe.
  *  - q24: scalar-subquery HAVING gate — per-group totals kept only when
  *         above a multiple of the overall average (uncorrelated scalar
  *         subquery broadcast into the filter).
  *  - q78: returns-netted year-over-year ratio — LEFT anti against the
  *         returns subset, then per-(part, year) totals self-joined
  *         across years.
  *
  * Scale shapes: existence predicates stay semi/anti (never materialize
  * the subquery side); the q78 self-join runs over per-(part, year)
  * aggregates. Money in exact fx mantissas; ratios render once.
  */
object Tpcds11 extends Pack {

  // ---- DS Q45: IN-list OR correlated EXISTS ------------------------------
  q("q_ds45_inlist_or_exists",
    s"""SELECT c_nationkey, count(*) AS n_cust,
       |  ${fsumSql("c_acctbal", 2)} AS bal_sum
       |FROM customer
       |WHERE c_custkey % 97 IN (3, 17, 41, 59, 83)
       |   OR EXISTS (SELECT 1 FROM orders
       |              WHERE o_custkey = c_custkey
       |                AND year(o_orderdate) = 1995 AND o_totalprice > 400000)
       |GROUP BY c_nationkey ORDER BY c_nationkey""")

  // ---- DS Q69: EXISTS AND NOT EXISTS -------------------------------------
  q("q_ds69_exists_not_exists",
    """SELECT c_mktsegment, count(*) AS n_cust
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1996)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""")

  // ---- DS Q24: groups above a multiple of the all-groups average ---------
  // The HAVING compares each group's sum to a SCALAR SUBQUERY over the
  // same aggregate (materialized-CTE reuse); the gate cross-multiplies
  // exact mantissas against the global (sum, count) pair, which rides a
  // 1-row broadcast to every group.
  q("q_ds24_above_avg_groups",
    s"""WITH g AS (
       |  SELECT l_suppkey AS sk,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS msum
       |  FROM lineitem GROUP BY 1)
       |SELECT sk, CAST(msum AS DOUBLE) / 10000.0 AS revenue
       |FROM g
       |WHERE CAST(100 AS DECIMAL(38,0)) * msum * (SELECT count(*) FROM g)
       |    > CAST(105 AS DECIMAL(38,0)) * (SELECT sum(msum) FROM g)
       |ORDER BY sk""")

  // ---- DS Q78: returns-netted year-over-year ratio -----------------------
  // Lines with a same-(order, linenumber) R-flagged "return record" drop
  // out (anti join on the PK); survivors aggregate per (part, year) and
  // self-join across years for the growth ratio.
  q("q_ds78_netted_yoy",
    s"""WITH ret AS (
       |  SELECT l_orderkey AS rk, l_linenumber AS rl FROM lineitem
       |  WHERE l_returnflag = 'R'),
       |net AS (
       |  SELECT l_partkey AS pk, year(l_shipdate) AS yr,
       |    count(*) AS cnt,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS msum
       |  FROM lineitem
       |  WHERE year(l_shipdate) IN (1995, 1996)
       |    AND NOT EXISTS (SELECT 1 FROM ret
       |                    WHERE rk = l_orderkey AND rl = l_linenumber)
       |  GROUP BY 1, 2)
       |SELECT n1.pk AS p_partkey, n1.cnt AS cnt_y1, n2.cnt AS cnt_y2,
       |  CAST(n1.msum AS DOUBLE) / 10000.0 AS rev_y1,
       |  CAST(n2.msum AS DOUBLE) / 10000.0 AS rev_y2,
       |  CAST(n2.msum AS DOUBLE) / n1.msum AS growth
       |FROM net n1 JOIN net n2 ON n1.pk = n2.pk
       |WHERE n1.yr = 1995 AND n2.yr = 1996 AND n1.msum > 0
       |ORDER BY p_partkey""")
}
