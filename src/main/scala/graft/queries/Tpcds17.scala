package graft.queries

import Q._

/** TPC-DS sample pack, batch 17
  * (`/root/reference/extension/tpcds/dsdgen/queries/{52,55,56,57,60,63}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q52/q55: brand revenue in a month window, revenue-descending — the
  *         benchmark's near-twin pair, differentiated by year + gate.
  *  - q56/q60: per-item totals from THREE channels union-all'd and
  *         re-aggregated, with the item set constrained by an
  *         IN-subquery (color list vs category gate).
  *  - q57: monthly brand sums vs their yearly average + rank over months
  *         — the call-center sibling of the covered q47.
  *  - q63: manager-partition monthly sums vs partition average, kept
  *         when deviating more than 10%.
  *
  * Scale shapes: unions aggregate per channel BEFORE the re-aggregate;
  * deviation windows run over GROUPED rows; |x−avg| > 0.1·avg gates
  * cross-multiply exact mantissas (|n·s − sum| · 10 > sum · n/...) in
  * DECIMAL(38,0) — never a double division.
  */
object Tpcds17 extends Pack {

  // ---- DS Q52 / Q55: brand revenue in a month window ---------------------
  private def brandRevenueSql(yr: Int, sizeMax: Int): String =
    s"""SELECT p_brand, ${fsumSql("l_extendedprice", 2)} AS ext_price
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE year(l_shipdate) = $yr AND month(l_shipdate) = 11
       |  AND p_size <= $sizeMax
       |GROUP BY p_brand ORDER BY ext_price DESC, p_brand LIMIT 100""".stripMargin

  q("q_ds52_brand_revenue", brandRevenueSql(1996, 25))
  q("q_ds55_brand_revenue_prior", brandRevenueSql(1995, 40))

  // ---- DS Q56 / Q60: three-channel union re-aggregate with item gate -----
  private def channelUnionSql(itemGateSql: String, yr: Int): String =
    s"""WITH ch AS (
       |  SELECT l_linenumber % 3 AS chan, l_partkey AS pk,
       |    sum(${fxSql("l_extendedprice", 2)}) AS m
       |  FROM lineitem
       |  WHERE year(l_shipdate) = $yr AND month(l_shipdate) = 3
       |    AND l_partkey IN (SELECT p_partkey FROM part WHERE $itemGateSql)
       |  GROUP BY 1, 2)
       |SELECT pk, (CAST(sum(m) AS DOUBLE) / 100.0) AS total_sales
       |FROM ch GROUP BY pk ORDER BY pk""".stripMargin

  q("q_ds56_color_channels", channelUnionSql(
    "p_name LIKE '%blue%' OR p_name LIKE '%green%' OR p_name LIKE '%red%'", 1996))
  q("q_ds60_category_channels", channelUnionSql("p_type LIKE 'STANDARD%'", 1997))

  // ---- DS Q57: monthly sums vs yearly average + month rank ---------------
  // Deviation gate |sum − avg| > 0.1·avg on exact mantissas:
  // |n·m − s| · 10 > s  (avg = s/n, all positive) in DECIMAL(38,0).
  q("q_ds57_monthly_deviation",
    s"""WITH m AS (
       |  SELECT p_brand, s_nationkey AS cc, month(l_shipdate) AS moy,
       |    sum(${fxSql("l_extendedprice", 2)}) AS msum
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE year(l_shipdate) = 1996 AND p_size <= 12
       |  GROUP BY 1, 2, 3),
       |w AS (
       |  SELECT p_brand, cc, moy, msum,
       |    CAST(sum(msum) OVER (PARTITION BY p_brand, cc) AS DECIMAL(38,0)) AS s,
       |    count(*) OVER (PARTITION BY p_brand, cc) AS n,
       |    rank() OVER (PARTITION BY p_brand, cc ORDER BY moy) AS rn
       |  FROM m)
       |SELECT p_brand, cc, moy, (CAST(msum AS DOUBLE) / 100.0) AS sum_sales,
       |  rn
       |FROM w
       |WHERE abs(CAST(msum AS DECIMAL(38,0)) * n - s) * 10 > s
       |ORDER BY p_brand, cc, moy""")

  // ---- DS Q63: manager-partition sums vs partition average ---------------
  q("q_ds63_manager_deviation",
    s"""WITH m AS (
       |  SELECT split_part(p_type, ' ', 1) AS mgr, month(l_shipdate) AS moy,
       |    sum(${fxSql("l_extendedprice", 2)}) AS msum
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE year(l_shipdate) = 1997
       |    AND (p_brand LIKE 'Brand#1%' OR p_brand LIKE 'Brand#2%')
       |  GROUP BY 1, 2),
       |w AS (
       |  SELECT mgr, moy, msum,
       |    CAST(sum(msum) OVER (PARTITION BY mgr) AS DECIMAL(38,0)) AS s,
       |    count(*) OVER (PARTITION BY mgr) AS n
       |  FROM m)
       |SELECT mgr, moy, (CAST(msum AS DOUBLE) / 100.0) AS sum_sales
       |FROM w WHERE abs(CAST(msum AS DECIMAL(38,0)) * n - s) * 10 > s
       |ORDER BY mgr, moy""")
}
