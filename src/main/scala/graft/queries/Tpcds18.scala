package graft.queries

import Q._

/** TPC-DS sample pack, batch 18
  * (`/root/reference/extension/tpcds/dsdgen/queries/{68,71,73,79,80,82}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q68: per-order sums with calendar + demographic gates, output rows
  *         where the buying nation differs from the supplier nation (the
  *         q46 sibling with extra measures).
  *  - q71: brand × day-of-month revenue across three channels union'd.
  *  - q73: per-order line counts behind a ratio-CASE demographic gate,
  *         customers with 1-5 line orders.
  *  - q79: per-(order, nation-city) discount/ revenue sums on one
  *         weekday.
  *  - q80: three channel P&L CTEs (sales / returns / net) union'd with a
  *         channel tag and ROLLUP'd.
  *  - q82: items in a price band with stock-ish gate, semi-joined to
  *         demand.
  *
  * Scale shapes: per-order aggregates precede every customer join; the
  * q80 rollup expands over per-channel AGGREGATES (never the fact
  * table); q82 keeps the existence check a semi join.
  */
object Tpcds18 extends Pack {

  // ---- DS Q68: per-order sums, buyer/supplier nation mismatch ------------
  q("q_ds68_city_mismatch_sums",
    s"""WITH per_order AS (
       |  SELECT l_orderkey AS ok, min(s_nationkey) AS bought_nation,
       |    CAST(sum(${fxSql("l_extendedprice", 2)}) AS BIGINT) AS ext_price,
       |    CAST(sum(${fxSql("l_extendedprice * l_tax", 4)}) AS BIGINT) AS ext_tax
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |  WHERE l_quantity <= 10
       |  GROUP BY l_orderkey)
       |SELECT c_name, c_nationkey, bought_nation, ok AS orderkey,
       |  ext_price, ext_tax
       |FROM per_order
       |JOIN orders ON ok = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE day(o_orderdate) BETWEEN 1 AND 2
       |  AND c_nationkey <> bought_nation
       |ORDER BY orderkey""")

  // ---- DS Q71: brand × day-of-month revenue, three channels --------------
  q("q_ds71_brand_by_day_channels",
    s"""WITH ch AS (
       |  SELECT l_partkey AS pk, day(l_shipdate) AS dom,
       |    ${fxSql("l_extendedprice", 2)} AS m
       |  FROM lineitem
       |  WHERE year(l_shipdate) = 1996 AND month(l_shipdate) = 11)
       |SELECT p_brand, dom,
       |  (CAST(sum(m) AS DOUBLE) / 100.0) AS ext_price
       |FROM ch JOIN part ON p_partkey = pk
       |WHERE p_size <= 20
       |GROUP BY p_brand, dom
       |ORDER BY p_brand, dom""")

  // ---- DS Q73: 1-5 line orders behind a ratio-CASE gate ------------------
  // the hd_dep_count/hd_vehicle_count > 1 gate maps to quantity/linenumber
  // — a CASE-guarded integer ratio, cross-multiplied (qty > lines)
  q("q_ds73_small_basket_customers",
    """WITH per_order AS (
      |  SELECT l_orderkey AS ok, count(*) AS cnt
      |  FROM lineitem
      |  WHERE l_quantity > l_linenumber
      |  GROUP BY l_orderkey)
      |SELECT c_name, ok AS orderkey, cnt
      |FROM per_order
      |JOIN orders ON ok = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE cnt BETWEEN 1 AND 5 AND day(o_orderdate) BETWEEN 1 AND 2
      |ORDER BY orderkey""")

  // ---- DS Q79: per-(order, nation) sums on one weekday -------------------
  // dayofweek numbers Sunday=0, so Monday=1 (the reference's numbering,
  // which the engine's Registry reproduces).
  q("q_ds79_monday_profit",
    s"""WITH per_order AS (
       |  SELECT l_orderkey AS ok,
       |    CAST(sum(${fxSql("l_extendedprice * l_discount", 4)}) AS BIGINT) AS amt,
       |    CAST(sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS BIGINT)
       |      AS profit
       |  FROM lineitem GROUP BY l_orderkey)
       |SELECT c_name, substr(n_name, 1, 10) AS city, ok AS orderkey, amt, profit
       |FROM per_order
       |JOIN orders ON ok = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE dayofweek(o_orderdate) = 1 AND year(o_orderdate) = 1996
       |ORDER BY orderkey""")

  // ---- DS Q80: three channel P&L CTEs, union'd and ROLLUP'd --------------
  // Rollup over the union of per-channel aggregates.
  private val ds80Sql =
    s"""WITH ret AS (
       |  SELECT l_orderkey AS rk, l_linenumber AS rl,
       |    ${fxSql("l_extendedprice", 2)} AS ramt
       |  FROM lineitem WHERE l_returnflag = 'R'),
       |ch AS (
       |  SELECT concat('channel_', CAST(l_linenumber % 3 AS STRING)) AS channel,
       |    l_partkey AS id,
       |    CAST(sum(${fxSql("l_extendedprice", 2)}) AS BIGINT) AS sales,
       |    CAST(sum(coalesce(ramt, 0)) AS BIGINT) AS returns,
       |    CAST(sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}
       |      - coalesce(ramt, 0) * 100) AS BIGINT) AS profit
       |  FROM lineitem
       |  LEFT OUTER JOIN ret ON rk = l_orderkey AND rl = l_linenumber
       |  WHERE year(l_shipdate) = 1996 AND l_partkey <= 500
       |  GROUP BY 1, 2)
       |SELECT channel, id,
       |  CAST(sum(sales) AS BIGINT) AS sales,
       |  CAST(sum(returns) AS BIGINT) AS returns,
       |  CAST(sum(profit) AS BIGINT) AS profit
       |FROM ch
       |GROUP BY ROLLUP(channel, id)
       |ORDER BY channel NULLS FIRST, id NULLS FIRST""".stripMargin
  q("q_ds80_channel_pnl_rollup", ds80Sql)

  // ---- DS Q82: price-band items with demand existence --------------------
  q("q_ds82_item_band_demand",
    """SELECT p_partkey, p_name, p_retailprice
      |FROM part
      |WHERE p_retailprice BETWEEN 940 AND 970
      |  AND p_size IN (15, 25, 35, 45)
      |  AND p_partkey IN (
      |    SELECT l_partkey FROM lineitem WHERE l_quantity BETWEEN 20 AND 30)
      |ORDER BY p_partkey""")
}
