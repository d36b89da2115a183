package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** TPC-DS sample pack, batch 2 — seven more query SHAPES from the
  * reference's 99 (`/root/reference/extension/tpcds/dsdgen/queries/
  * {05,10,14,33,37,51,65}.sql`), fixture-adapted like Tpcds.scala.
  * The "channels" (store/catalog/web) map onto lineitem partitioned by
  * l_linestatus ('O' = web, 'F' = store) and returns onto l_returnflag,
  * so the multi-channel union / intersect / full-outer topologies are
  * preserved against one fact table.
  *
  * Planner shapes covered here and nowhere else:
  *  - q5:  UNION ALL of differently-shaped channel scans → ROLLUP
  *  - q10: EXISTS conjoined with an OR of two more EXISTS (three
  *         null-aware semi-joins against the same fact)
  *  - q14: INTERSECT of per-channel dimension sets, joined back to the
  *         fact aggregation
  *  - q33: per-channel filtered aggregates unioned then re-aggregated
  *  - q37: dimension-band + IN-list scan with join-existence grouping
  *  - q51: FULL OUTER join of two per-channel cumulative window series
  *  - q65: aggregate-of-aggregate join-back (revenue vs per-group mean)
  *
  * Money sums use the fixed-point BIGINT mantissas from Q (exact and
  * order-independent → hash-identical across engines).
  */
object Tpcds2 extends Pack {

  // ---- DS Q5: channel UNION ALL (sales vs returns) → ROLLUP by nation ----
  q("q_ds5_channel_rollup",
    s"""WITH salesreturns AS (
       |  SELECT l_suppkey AS supp, ${fxSql("l_extendedprice", 2)} AS sales_amt,
       |         CAST(0 AS BIGINT) AS return_amt
       |  FROM lineitem WHERE l_returnflag <> 'R'
       |  UNION ALL
       |  SELECT l_suppkey, CAST(0 AS BIGINT), ${fxSql("l_extendedprice", 2)}
       |  FROM lineitem WHERE l_returnflag = 'R'
       |)
       |SELECT n_name,
       |  (CAST(sum(sales_amt) AS DOUBLE) / 100.0) AS sales,
       |  (CAST(sum(return_amt) AS DOUBLE) / 100.0) AS returns_amt
       |FROM salesreturns
       |JOIN supplier ON s_suppkey = supp
       |JOIN nation ON n_nationkey = s_nationkey
       |GROUP BY ROLLUP(n_name)
       |ORDER BY n_name NULLS FIRST""")

  // ---- DS Q10: EXISTS AND (EXISTS OR EXISTS) prospect counting -----------
  private val q10Sql =
    """SELECT c_mktsegment, count(*) AS cnt
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |      AND year(o.o_orderdate) = 1995)
      |  AND (EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderpriority = '1-URGENT')
      |  OR EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |      AND o.o_totalprice > 150000))
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin
  q("q_ds10_prospects", q10Sql)

  // ---- DS Q14: per-channel INTERSECT of dimension sets, joined back ------
  q("q_ds14_cross_channel",
    s"""WITH cross_items AS (
       |  SELECT p_brand, p_type
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  WHERE l_linestatus = 'O' AND p_size <= 10
       |  INTERSECT
       |  SELECT p_brand, p_type
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  WHERE l_linestatus = 'F' AND p_size <= 5
       |)
       |SELECT p.p_brand AS p_brand, p.p_type AS p_type,
       |  ${fsumSql("l_extendedprice", 2)} AS rev
       |FROM lineitem l
       |JOIN part p ON p.p_partkey = l.l_partkey
       |JOIN cross_items ci ON ci.p_brand = p.p_brand AND ci.p_type = p.p_type
       |GROUP BY p.p_brand, p.p_type
       |ORDER BY rev DESC, p.p_brand, p.p_type LIMIT 100""")

  // ---- DS Q33: filtered per-channel aggs UNION ALL'd, re-aggregated ------
  // (three monthly "channels" of the same fact; mantissas flow through the
  // union as BIGINT and render to double once, after the outer sum)
  q("q_ds33_brand_union_agg",
    s"""WITH s1 AS (
       |  SELECT p_brand, sum(${fxSql("l_extendedprice", 2)}) AS m
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  WHERE month(o_orderdate) = 3 GROUP BY p_brand),
       |s2 AS (
       |  SELECT p_brand, sum(${fxSql("l_extendedprice", 2)}) AS m
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  WHERE month(o_orderdate) = 6 GROUP BY p_brand),
       |s3 AS (
       |  SELECT p_brand, sum(${fxSql("l_extendedprice", 2)}) AS m
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  WHERE month(o_orderdate) = 9 GROUP BY p_brand)
       |SELECT p_brand, (CAST(sum(m) AS DOUBLE) / 100.0) AS total_rev
       |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
       |GROUP BY p_brand
       |ORDER BY total_rev DESC, p_brand LIMIT 100""")

  // ---- DS Q37: price-band + IN-list dims, existence-grouped --------------
  q("q_ds37_part_bands",
    """SELECT p_brand, p_type, p_retailprice
      |FROM part JOIN lineitem ON l_partkey = p_partkey
      |WHERE p_retailprice BETWEEN 920 AND 950
      |  AND p_size IN (3, 7, 11, 15)
      |  AND l_quantity BETWEEN 10 AND 30
      |GROUP BY p_brand, p_type, p_retailprice
      |ORDER BY p_brand, p_type, p_retailprice LIMIT 100""")

  // ---- DS Q51: FULL OUTER join of two cumulative channel series ----------
  // (per-supplier monthly revenue per channel, each with a running
  // cumulative sum, stitched with a full outer join, then the rows where
  // the web cumulative overtakes the store cumulative)
  built("q_ds51_cumulative_channels",
    s"""WITH web AS (
       |  SELECT l_suppkey AS supp, month(o_orderdate) AS m,
       |    sum(${fxSql("l_extendedprice", 2)}) AS rev
       |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       |  WHERE l_linestatus = 'O' GROUP BY 1, 2),
       |store AS (
       |  SELECT l_suppkey AS supp, month(o_orderdate) AS m,
       |    sum(${fxSql("l_extendedprice", 2)}) AS rev
       |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       |  WHERE l_linestatus = 'F' GROUP BY 1, 2),
       |merged AS (
       |  SELECT coalesce(w.supp, st.supp) AS supp, coalesce(w.m, st.m) AS m,
       |    w.rev AS web_rev, st.rev AS store_rev
       |  FROM web w FULL OUTER JOIN store st ON w.supp = st.supp AND w.m = st.m),
       |cum AS (
       |  SELECT supp, m,
       |    sum(coalesce(web_rev, 0)) OVER (PARTITION BY supp ORDER BY m) AS web_cum,
       |    sum(coalesce(store_rev, 0)) OVER (PARTITION BY supp ORDER BY m) AS store_cum
       |  FROM merged)
       |SELECT supp, m,
       |  (CAST(web_cum AS DOUBLE) / 100.0) AS web_cumulative,
       |  (CAST(store_cum AS DOUBLE) / 100.0) AS store_cumulative
       |FROM cum WHERE web_cum > store_cum
       |ORDER BY supp, m LIMIT 200""") { (s, dir) =>
    // the oracle spells the reference's FULL OUTER stitch of two channel
    // CTEs; one conditional-aggregation pass produces the identical
    // merged frame directly (a (supp, m) group missing a channel gets a
    // NULL sum — exactly the outer join's padding) without scanning
    // lineitem⋈orders once per channel
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
    val merged = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_linestatus")
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_suppkey").as("supp"), month(col("o_orderdate")).as("m"))
      .agg(
        sum(when(col("l_linestatus") === "O", fx(col("l_extendedprice"), 2)))
          .as("web_rev"),
        sum(when(col("l_linestatus") === "F", fx(col("l_extendedprice"), 2)))
          .as("store_rev"))
    val w = Window.partitionBy("supp").orderBy("m")
    merged
      .withColumn("web_cum", sum(coalesce(col("web_rev"), lit(0L))).over(w))
      .withColumn("store_cum", sum(coalesce(col("store_rev"), lit(0L))).over(w))
      .filter(col("web_cum") > col("store_cum"))
      .select(col("supp"), col("m"),
        (col("web_cum").cast("double") / 100.0).as("web_cumulative"),
        (col("store_cum").cast("double") / 100.0).as("store_cumulative"))
      .orderBy("supp", "m")
      .limit(200)
  }

  // ---- DS Q65: aggregate-of-aggregate join-back (underperforming parts) --
  // (per-(nation, supplier) revenue vs the nation's mean supplier revenue;
  // the mean divides two exact integers in double — identical both engines)
  q("q_ds65_low_suppliers",
    s"""WITH sc AS (
       |  SELECT s_nationkey AS nk, l_suppkey AS supp,
       |    sum(${fxSql("l_extendedprice", 2)}) AS rev
       |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
       |  GROUP BY 1, 2),
       |sb AS (
       |  SELECT nk, CAST(sum(rev) AS DOUBLE) / count(*) AS ave
       |  FROM sc GROUP BY nk)
       |SELECT n_name, s_name, (CAST(sc.rev AS DOUBLE) / 100.0) AS revenue
       |FROM sc JOIN sb ON sc.nk = sb.nk
       |JOIN supplier ON s_suppkey = sc.supp
       |JOIN nation ON n_nationkey = sc.nk
       |WHERE CAST(sc.rev AS DOUBLE) <= 0.98 * sb.ave
       |ORDER BY n_name, s_name LIMIT 100""")
}
