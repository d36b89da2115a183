package graft.queries

import Q._

/** TPC-DS sample pack, batch 13
  * (`/root/reference/extension/tpcds/dsdgen/queries/{08,13,15,76}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q8:  key-prefix IN-list intersected with a density-gated set
  *         (prefixes having ≥K members) — IN over a derived aggregate.
  *  - q13: disjunctive multi-band predicate across joined dimensions
  *         feeding several exact averages.
  *  - q15: rows above the 95th percentile of a derived measure — the
  *         percentile gate computes on an exact integer mantissa and
  *         rides a 1-row broadcast.
  *  - q76: counts of fact rows with a NULL-ish dimension attribute,
  *         unioned across "channels" with a channel tag.
  *
  * Scale shapes: the q8 density set and q15 percentile are tiny
  * aggregates broadcast to the probe; q13 is a single-scan conditional
  * filter; q76 is two filtered aggregates unioned.
  */
object Tpcds13 extends Pack {

  // ---- DS Q8: key-prefix IN-list ∩ density-gated prefixes ----------------
  q("q_ds8_dense_prefixes",
    s"""WITH dense AS (
       |  SELECT c_custkey % 100 AS pfx FROM customer
       |  GROUP BY 1 HAVING count(*) >= 12)
       |SELECT c_nationkey, count(*) AS n_cust,
       |  ${fsumSql("c_acctbal", 2)} AS bal_sum
       |FROM customer
       |WHERE c_custkey % 100 IN (SELECT pfx FROM dense)
       |  AND c_custkey % 100 IN (7, 19, 23, 37, 53, 71, 89, 97)
       |GROUP BY c_nationkey ORDER BY c_nationkey""")

  // ---- DS Q13: disjunctive multi-band predicate + exact averages ---------
  q("q_ds13_band_averages",
    s"""SELECT count(*) AS n,
       |  ${favgSql("l_quantity", 2)} AS avg_qty,
       |  ${favgSql("l_extendedprice", 2)} AS avg_price,
       |  ${fsumSql("l_discount", 2)} AS sum_disc
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE (c_mktsegment = 'BUILDING' AND l_quantity BETWEEN 1 AND 15
       |       AND l_discount BETWEEN 0.02 AND 0.06)
       |   OR (c_mktsegment = 'MACHINERY' AND l_quantity BETWEEN 16 AND 35
       |       AND l_discount BETWEEN 0.04 AND 0.08)
       |   OR (c_mktsegment = 'HOUSEHOLD' AND l_quantity BETWEEN 36 AND 50
       |       AND l_discount BETWEEN 0.00 AND 0.04)""")

  // ---- DS Q15: rows above the 95th percentile ----------------------------
  // Spark percentile() and duckdb quantile_cont() use the same
  // (n−1)·p linear interpolation; on exact BIGINT mantissas the double
  // arithmetic is bit-identical, and the 1-row cut broadcasts to the
  // probe. (The holistic sort buffer is per-aggregate — the reference's
  // own quantile has the same memory profile.)
  q("q_ds15_top_percentile",
    s"""WITH ct AS (
       |  SELECT o_custkey AS ck, sum(${fxSql("o_totalprice", 2)}) AS m
       |  FROM orders GROUP BY 1),
       |cut AS (SELECT quantile_cont(m, 0.95) AS p95 FROM ct)
       |SELECT ck, CAST(m AS DOUBLE) / 100.0 AS total
       |FROM ct, cut WHERE m >= p95 ORDER BY ck""")

  // ---- DS Q76: NULL-attribute channel counts -----------------------------
  // "null channel" = rows whose derived attribute is null (no matching
  // dim row via LEFT join); two channels unioned with a tag.
  q("q_ds76_null_channel_counts",
    s"""WITH big AS (SELECT p_partkey FROM part WHERE p_size > 40)
       |SELECT 'lineitem' AS channel, year(l_shipdate) AS yr, count(*) AS n
       |FROM lineitem LEFT JOIN big ON l_partkey = p_partkey
       |WHERE p_partkey IS NULL AND year(l_shipdate) IN (1995, 1996)
       |GROUP BY 2
       |UNION ALL
       |SELECT 'orders' AS channel, year(o_orderdate) AS yr, count(*) AS n
       |FROM orders LEFT JOIN customer ON o_custkey = c_custkey AND c_acctbal > 9000
       |WHERE c_custkey IS NULL AND year(o_orderdate) IN (1995, 1996)
       |GROUP BY 2
       |ORDER BY channel, yr""")
}
