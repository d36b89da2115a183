package graft.queries

import Q._

/** The 13 TPC-H query shapes not covered by the star-join pack in
  * Relational/Aggregates (reference extension/tpch/dbgen/queries/
  * q02,07,08,09,11,13,15,16,17,19,20,21,22.sql), adapted to the fixture
  * schema: the fixture carries no partsupp / comment / phone /
  * commit-receipt-date columns, so each query keeps the reference's
  * PLANNER shape (the join topology, correlation pattern, and aggregate
  * structure that make the query hard) with predicates re-targeted at
  * available columns. Money sums use the fixed-point BIGINT mantissas
  * from Q (exact + order-independent, hash-identical cross-engine).
  *
  * Each query is its oracle text, run through the engine's front door.
  * Correlated-subquery shapes (Q2/Q11/Q17/Q22) exercise Catalyst's
  * decorrelation (the analog of the reference's flatten-dependent-join,
  * src/planner/subquery/flatten_dependent_join.cpp); join-topology shapes
  * (Q7/8/9/13/15/16/19/20/21) rely on the optimizer to broadcast the
  * dimension sides.
  */
object Tpch extends Pack {

  private val volumeSql = s"${fxSql("l_extendedprice", 2)} * (100 - ${fxSql("l_discount", 2)})"

  // ---- Q2: min-value supplier per part (correlated scalar MIN) -----------
  // partsupp's min ps_supplycost becomes min s_acctbal over the suppliers
  // that shipped the part (lineitem as the part↔supplier bridge).
  private val q2Sql =
    """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name
      |FROM part, supplier, lineitem, nation, region
      |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |  AND p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND s_acctbal = (
      |    SELECT min(s_acctbal)
      |    FROM supplier, lineitem, nation, region
      |    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |      AND r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin
  q("q2_min_cost_supp", q2Sql)

  // ---- Q7: volume shipping between two nations (dual nation join) --------
  q("q7_volume_shipping",
    s"""SELECT supp_nation, cust_nation, l_year, (CAST(sum(volume) AS DOUBLE) / 10000.0) AS revenue
       |FROM (
       |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |    year(l_shipdate) AS l_year,
       |    $volumeSql AS volume
       |  FROM supplier
       |  JOIN lineitem ON s_suppkey = l_suppkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN customer ON c_custkey = o_custkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
       |) shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""")

  // ---- Q8: national market share within a region (8-way snowflake) -------
  q("q8_market_share",
    s"""SELECT o_year,
       |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
       |FROM (
       |  SELECT year(o_orderdate) AS o_year,
       |    $volumeSql AS volume,
       |    n2.n_name AS supp_nation
       |  FROM part
       |  JOIN lineitem ON p_partkey = l_partkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |  JOIN region ON n1.n_regionkey = r_regionkey
       |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
       |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
       |) all_nations
       |GROUP BY o_year ORDER BY o_year""")

  // ---- Q9: product-type profit by nation and year ------------------------
  // ps_supplycost*l_quantity becomes p_retailprice*l_quantity/10; the
  // mantissa is scaled to 1e-5 units so both terms stay integral.
  q("q9_product_profit",
    s"""SELECT nation, o_year, (CAST(sum(amount) AS DOUBLE) / 100000.0) AS sum_profit
       |FROM (
       |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
       |    10 * ${fxSql("l_extendedprice", 2)} * (100 - ${fxSql("l_discount", 2)})
       |      - ${fxSql("p_retailprice", 2)} * ${fxSql("l_quantity", 2)} AS amount
       |  FROM part
       |  JOIN lineitem ON p_partkey = l_partkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE p_name LIKE '%red%'
       |) profit
       |GROUP BY nation, o_year
       |ORDER BY nation, o_year DESC""")

  // ---- Q11: important stock (HAVING vs global-scalar subquery) -----------
  // partsupp value becomes lineitem extendedprice×quantity per part for
  // one nation's suppliers; threshold = 0.1% of the same aggregate.
  private val q11Sql = {
    val v = s"sum(${fxSql("l_extendedprice", 2)} * ${fxSql("l_quantity", 2)})"
    s"""SELECT l_partkey, (CAST($v AS DOUBLE) / 10000.0) AS value
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE n_name = 'NATION_3'
       |GROUP BY l_partkey
       |HAVING CAST($v AS DOUBLE) >
       |  (SELECT CAST($v AS DOUBLE) * 0.001
       |   FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |   JOIN nation ON s_nationkey = n_nationkey
       |   WHERE n_name = 'NATION_3')
       |ORDER BY value DESC, l_partkey""".stripMargin
  }
  q("q11_important_stock", q11Sql)

  // ---- Q13: customer order-count distribution (left join + re-agg) -------
  q("q13_custdist",
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey
      |) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""")

  // ---- Q15: top supplier via revenue view + scalar MAX -------------------
  q("q15_top_supplier",
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    (CAST(sum($volumeSql) AS DOUBLE) / 10000.0) AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier JOIN revenue ON s_suppkey = supplier_no
       |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""")

  // ---- Q16: supplier count per part attribute (NOT IN + count distinct) --
  // Catalyst plans NOT IN as its null-aware broadcast-hash anti join
  // (NULL-poisoning semantics preserved: one NULL s_suppkey in the
  // subquery would empty the result, exactly like the reference).
  private val q16Sql =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
      |  AND p_size IN (1, 4, 7, 10, 15, 23, 31, 40)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin
  q("q16_supplier_cnt", q16Sql)

  // ---- Q17: small-quantity revenue (correlated AVG subquery) -------------
  private val q17Sql =
    s"""SELECT round(CAST(sum(${fxSql("l_extendedprice", 2)}) AS DOUBLE) / 100.0 / 7.0, 6) AS avg_yearly
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'
       |  AND l_quantity < (
       |    SELECT 0.2 * (CAST(sum(${fxSql("l_quantity", 2)}) AS DOUBLE) / 100.0 / count(*))
       |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin
  q("q17_small_qty_revenue", q17Sql)

  // ---- Q19: disjunctive pushdown (three OR'd conjunction blocks) ---------
  q("q19_disjunct_revenue",
    s"""SELECT (CAST(sum($volumeSql) AS DOUBLE) / 10000.0) AS revenue
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""")

  // ---- Q20: part-promotion suppliers (nested IN + grouped HAVING) --------
  // availqty excess becomes shipped-quantity excess per (supplier, part).
  q("q20_part_promo",
    s"""SELECT s_name, s_acctbal
       |FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |WHERE s_suppkey IN (
       |  SELECT l_suppkey FROM lineitem
       |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
       |    AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
       |  GROUP BY l_suppkey, l_partkey
       |  HAVING sum(${fxSql("l_quantity", 2)}) > 4000)
       |  AND n_name IN ('NATION_5', 'NATION_6', 'NATION_7', 'NATION_8', 'NATION_9')
       |ORDER BY s_name""")

  // ---- Q21: suppliers who kept multi-supplier orders waiting -------------
  // (EXISTS + NOT EXISTS self-joins on the fact table → semi + anti join;
  // receipt-after-commit lateness becomes the 'R' return flag)
  q("q21_waiting_supp",
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |  AND n_name IN ('NATION_4', 'NATION_5')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name LIMIT 100""")

  // ---- Q22: dormant high-balance customers (anti join + scalar AVG) ------
  // phone country code becomes a digit of the zero-padded customer name;
  // "no orders" (vacuous here: every customer has orders) becomes "no
  // large orders" so the anti join actually filters.
  private val q22Sql =
    s"""SELECT cntrycode, count(*) AS numcust,
       |  (CAST(sum(${fxSql("c_acctbal", 2)}) AS DOUBLE) / 100.0) AS totacctbal
       |FROM (
       |  SELECT substring(c_name, 18, 1) AS cntrycode, c_acctbal, c_custkey
       |  FROM customer
       |  WHERE substring(c_name, 18, 1) IN ('1', '2', '3', '4', '5', '6', '7')
       |    AND c_acctbal > (
       |      SELECT CAST(sum(${fxSql("c_acctbal", 2)}) AS DOUBLE) / 100.0 / count(*)
       |      FROM customer
       |      WHERE c_acctbal > 0.0 AND substring(c_name, 18, 1) IN ('1', '2', '3', '4', '5', '6', '7'))
       |    AND NOT EXISTS (
       |      SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
       |) custsale
       |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin
  q("q22_sales_opp", q22Sql)
}
