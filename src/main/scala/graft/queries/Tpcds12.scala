package graft.queries

import Q._

/** TPC-DS sample pack, batch 12
  * (`/root/reference/extension/tpcds/dsdgen/queries/{06,43,96}.sql`),
  * fixture-adapted like the earlier batches — the remaining small
  * distinct shapes:
  *
  *  - q6:  rows above a multiple of their CATEGORY average in a pinned
  *         month, counted by a second dimension, HAVING-capped.
  *  - q43: weekday × group conditional matrix from day-of-week buckets.
  *  - q96: narrow multi-predicate count through two dimension joins.
  *
  * All gates cross-multiply exact mantissas. Weekday convention: the
  * graft registry shadows dayofweek() with the reference's Sunday=0..6
  * numbering (r14), so the text's dayofweek+1 buckets mean the same on
  * both engines.
  */
object Tpcds12 extends Pack {

  // ---- DS Q6: above category-average in a pinned month -------------------
  q("q_ds6_above_category_avg",
    s"""WITH pa AS (
       |  SELECT p_type AS cat, sum(${fxSql("p_retailprice", 2)}) AS sp, count(*) AS cnt
       |  FROM part GROUP BY 1)
       |SELECT c_nationkey, count(*) AS n_lines
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN pa ON p_type = pa.cat
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE year(o_orderdate) = 1995 AND month(o_orderdate) = 3
       |  AND CAST(100 AS DECIMAL(38,0)) * ${fxSql("p_retailprice", 2)} * cnt
       |    > CAST(103 AS DECIMAL(38,0)) * sp
       |GROUP BY c_nationkey HAVING count(*) >= 10
       |ORDER BY c_nationkey""")

  // ---- DS Q43: weekday × group matrix ------------------------------------
  q("q_ds43_weekday_matrix",
    """SELECT l_suppkey,
      |  CAST(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 1 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sun_qty,
      |  CAST(sum(CASE WHEN dayofweek(l_shipdate) + 1 BETWEEN 2 AND 6 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS weekday_qty,
      |  CAST(sum(CASE WHEN dayofweek(l_shipdate) + 1 = 7 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS sat_qty
      |FROM lineitem WHERE year(l_shipdate) = 1995
      |GROUP BY l_suppkey ORDER BY l_suppkey""")

  // ---- DS Q96: narrow multi-predicate count ------------------------------
  q("q_ds96_slot_count",
    """SELECT count(*) AS n
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |WHERE p_size BETWEEN 10 AND 20
      |  AND s_nationkey < 5
      |  AND l_quantity BETWEEN 20 AND 30""")
}
