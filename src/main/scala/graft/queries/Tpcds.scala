package graft.queries

import Q._

/** TPC-DS sample pack — nine query SHAPES from the reference's 99
  * (`/root/reference/extension/tpcds/dsdgen/queries/
  * {03,07,19,27,34,42,53,88,98}.sql`),
  * adapted to the fixture star schema: the snowflake/star topologies,
  * multi-dimension filters, rollup-with-grouping and ORDER-BY-aggregate
  * patterns are preserved; store_sales→lineitem, date_dim→orders
  * (o_orderdate plays d_year/d_moy), item→part, customer_demographics→
  * customer, promotion→supplier, store/customer_address→nation via the
  * supplier/customer nationkeys. Money sums use the fixed-point BIGINT
  * mantissas from Q (exact + order-independent, hash-identical
  * cross-engine). q34/q53/q98 add the HAVING-range join-back,
  * window-over-aggregate, and ratio-to-total-window planner shapes.
  *
  * Each query is its oracle text, run through the engine's front door
  * (so are the later batches, apart from the hand-built queries
  * EntrySpec allowlists with their reason).
  *
  * Scale notes: lineitem⋈orders is a key-to-key join of two fact-sized
  * tables (shuffle on orderkey — never broadcast); part/supplier/nation
  * are dimension sides, which the optimizer broadcasts.
  */
object Tpcds extends Pack {

  // ---- DS Q3: date+item star, ORDER BY year, agg DESC --------------------
  q("q_ds3_brand_revenue",
    s"""SELECT year(o_orderdate) AS d_year, p_brand AS brand,
       |  ${fsumSql("l_extendedprice", 2)} AS sum_agg
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN part ON p_partkey = l_partkey
       |WHERE p_size = 8 AND month(o_orderdate) = 11
       |GROUP BY 1, 2
       |ORDER BY d_year, sum_agg DESC, brand LIMIT 100""")

  // ---- DS Q7: four-dimension star with four averages ---------------------
  // customer_demographics gender/marital/education → c_mktsegment;
  // promotion channel-OR → supplier acctbal/nation OR.
  q("q_ds7_item_averages",
    s"""SELECT p_name,
       |  ${favgSql("l_quantity", 2)} AS agg1,
       |  ${favgSql("l_extendedprice", 2)} AS agg2,
       |  ${favgSql("l_discount", 2)} AS agg3,
       |  ${favgSql("l_tax", 2)} AS agg4
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN part ON p_partkey = l_partkey
       |JOIN supplier ON s_suppkey = l_suppkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND (s_acctbal < 0 OR s_nationkey < 10)
       |  AND year(o_orderdate) = 1995
       |GROUP BY p_name
       |ORDER BY p_name LIMIT 100""")

  // ---- DS Q19: six-table snowflake with a cross-dimension inequality -----
  // ca_zip-prefix <> s_zip-prefix → customer nation ≠ supplier nation.
  q("q_ds19_brand_by_nation_mismatch",
    s"""SELECT p_brand AS brand, p_type,
       |  ${fsumSql("l_extendedprice", 2)} AS ext_price
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN customer ON c_custkey = o_custkey
       |JOIN nation cn ON cn.n_nationkey = c_nationkey
       |JOIN part ON p_partkey = l_partkey
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN nation sn ON sn.n_nationkey = s_nationkey
       |WHERE p_size = 1
       |  AND month(o_orderdate) = 11 AND year(o_orderdate) = 1995
       |  AND cn.n_name <> sn.n_name
       |GROUP BY p_brand, p_type
       |ORDER BY ext_price DESC, brand, p_type LIMIT 100""")

  // ---- DS Q27: rollup over a star, GROUPING() flag -----------------------
  // GROUP BY ROLLUP(i_item_id, s_state) → ROLLUP(p_brand, n_name); NULLS
  // FIRST pinned explicitly (Spark's ASC default) in the oracle.
  q("q_ds27_rollup_averages",
    s"""SELECT p_brand AS brand, sn.n_name AS supp_nation,
       |  CAST(grouping(sn.n_name) AS INT) AS g_state,
       |  ${favgSql("l_quantity", 2)} AS agg1,
       |  ${favgSql("l_extendedprice", 2)} AS agg2
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN part ON p_partkey = l_partkey
       |JOIN supplier ON s_suppkey = l_suppkey
       |JOIN nation sn ON sn.n_nationkey = s_nationkey
       |WHERE year(o_orderdate) = 1995 AND p_size <= 5
       |GROUP BY ROLLUP(p_brand, sn.n_name)
       |ORDER BY brand NULLS FIRST, supp_nation NULLS FIRST LIMIT 100""")

  // ---- DS Q34: HAVING count-range, join back to the customer dim ---------
  q("q_ds34_bulk_orders",
    """WITH cnt AS (
      |  SELECT l_orderkey, count(*) AS n_items
      |  FROM lineitem GROUP BY l_orderkey HAVING count(*) BETWEEN 6 AND 7
      |)
      |SELECT c_custkey, o_orderkey, n_items
      |FROM cnt JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY c_custkey, o_orderkey LIMIT 100""")

  // ---- DS Q53: window over the aggregate, filter vs the partition avg ----
  // (manufacturer quarterly sums vs their own average — the window runs
  // over the TINY aggregate output, not the fact table)
  q("q_ds53_above_avg_brands",
    s"""WITH agg AS (
       |  SELECT p_brand, year(o_orderdate) AS d_year,
       |    ${fsumSql("l_extendedprice", 2)} AS rev
       |  FROM lineitem
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN part ON p_partkey = l_partkey
       |  WHERE p_size <= 10
       |  GROUP BY 1, 2
       |)
       |, win AS (
       |  SELECT p_brand, d_year, rev,
       |    CAST(sum(CAST(rev AS DECIMAL(18,6))) OVER (PARTITION BY p_brand) AS DOUBLE)
       |      / count(*) OVER (PARTITION BY p_brand) AS brand_avg
       |  FROM agg
       |)
       |SELECT p_brand, d_year, rev, brand_avg FROM win
       |WHERE rev > 1.1 * brand_avg
       |ORDER BY p_brand, d_year LIMIT 100""")

  // ---- DS Q98: ratio-to-total inside a category (window over aggregate) --
  q("q_ds98_revenue_ratio",
    s"""WITH agg AS (
       |  SELECT p_type, p_brand, ${fsumSql("l_extendedprice", 2)} AS rev
       |  FROM lineitem
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN part ON p_partkey = l_partkey
       |  WHERE month(o_orderdate) = 11
       |  GROUP BY 1, 2
       |)
       |SELECT p_type, p_brand, rev,
       |  round(rev * 100.0 / CAST(sum(CAST(rev AS DECIMAL(18,6))) OVER (PARTITION BY p_type) AS DOUBLE), 6) AS revenueratio
       |FROM agg ORDER BY p_type, revenueratio, p_brand LIMIT 100""")

  // ---- DS Q88: battery of independent scalar subqueries, cross-joined ----
  // (eight time-band counts in the original; four quantity bands here —
  // the shape under test is N independent scalar subqueries in one SELECT,
  // each planned as its own aggregate and joined as scalars)
  private val q88Sql =
    """SELECT
      |  (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) AS band1,
      |  (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) AS band2,
      |  (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 21 AND 35) AS band3,
      |  (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 36 AND 50) AS band4""".stripMargin
  q("q_ds88_quantity_bands", q88Sql)

  // ---- DS Q42: date+item star grouped by category, ORDER BY agg DESC -----
  q("q_ds42_category_revenue",
    s"""SELECT year(o_orderdate) AS d_year, p_type,
       |  ${fsumSql("l_extendedprice", 2)} AS ext_price
       |FROM lineitem
       |JOIN orders ON o_orderkey = l_orderkey
       |JOIN part ON p_partkey = l_partkey
       |WHERE p_size = 1 AND month(o_orderdate) = 11
       |GROUP BY 1, 2
       |ORDER BY ext_price DESC, d_year, p_type LIMIT 100""")
}
