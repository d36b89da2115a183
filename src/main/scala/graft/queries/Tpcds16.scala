package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** TPC-DS sample pack, batch 16
  * (`/root/reference/extension/tpcds/dsdgen/queries/{26,28,29,40,48,50}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q26: per-brand exact averages behind demographic + promo-channel
  *         gates.
  *  - q28: six quantity-band (avg, count, count-distinct) triples in ONE
  *         pass — conditional aggregates instead of the benchmark's six
  *         scalar subqueries cross-joined (same numbers, one scan).
  *  - q29: sold → returned → re-bought chain, three quantity sums per
  *         (brand, nation).
  *  - q40: before/after-pivot-date sales with refunds subtracted via a
  *         LEFT OUTER join against the aggregated returns.
  *  - q48: quantity total behind two AND-ed disjunctive band blocks
  *         (demo × geo).
  *  - q50: return-lag day buckets (30/60/90/120/120+) per nation.
  *
  * Scale shapes: q28's distinct aggregates run as one Expand pass over
  * the filtered scan (vs six separate scans); q40's refund side
  * aggregates per order BEFORE the left join; chain joins in q29 hop on
  * keys only; every money measure is an exact mantissa.
  */
object Tpcds16 extends Pack {

  private def favgIfSql(cond: String, e: String, dp: Int): String =
    s"(CAST(sum(CASE WHEN $cond THEN ${fxSql(e, dp)} END) AS DOUBLE) / " +
      s"${math.pow(10, dp).toLong}.0 / count(CASE WHEN $cond THEN 1 END))"

  // ---- DS Q26: demographic-gated per-brand averages ----------------------
  q("q_ds26_demo_averages",
    s"""SELECT p_brand,
       |  ${favgSql("l_quantity", 2)} AS agg1,
       |  ${favgSql("l_extendedprice", 2)} AS agg2,
       |  ${favgSql("l_discount", 2)} AS agg3,
       |  ${favgSql("l_tax", 2)} AS agg4
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN part ON l_partkey = p_partkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND (o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH')
       |  AND year(o_orderdate) = 1996
       |GROUP BY p_brand ORDER BY p_brand""")

  // ---- DS Q28: six band triples in one conditional-aggregate pass --------
  // The benchmark cross-joins six single-row scalar subqueries; the same
  // numbers fall out of ONE filtered scan with conditional aggregates
  // (count-distincts share an Expand — 3 extra shuffle copies beats 6
  // full scans at any scale).
  q("q_ds28_band_triples", {
    val bands = Seq(
      ("b1", "l_quantity BETWEEN 0 AND 5", "l_discount BETWEEN 0.00 AND 0.04"),
      ("b2", "l_quantity BETWEEN 6 AND 10", "l_discount BETWEEN 0.02 AND 0.06"),
      ("b3", "l_quantity BETWEEN 11 AND 15", "l_discount BETWEEN 0.04 AND 0.08"))
    val cols = bands.map { case (n, qb, db) =>
      val cond = s"($qb AND ($db OR l_tax BETWEEN 0.02 AND 0.05))"
      s"""  ${favgIfSql(cond, "l_extendedprice", 2)} AS ${n}_lp,
         |  count(CASE WHEN $cond THEN 1 END) AS ${n}_cnt,
         |  count(DISTINCT CASE WHEN $cond
         |    THEN ${fxSql("l_extendedprice", 2)} END) AS ${n}_cntd""".stripMargin
    }
    s"SELECT\n${cols.mkString(",\n")}\nFROM lineitem"
  })

  // ---- DS Q29: sold → returned → re-bought quantity chain ----------------
  q("q_ds29_return_rebuy_chain",
    s"""WITH ret AS (
       |  SELECT l_orderkey AS rk, l_partkey AS rp, l_quantity AS rq,
       |    l_linenumber AS rl
       |  FROM lineitem WHERE l_returnflag = 'R'),
       |rebuy AS (
       |  SELECT o2.o_custkey AS bk, l2.l_partkey AS bp,
       |    CAST(sum(${fxSql("l2.l_quantity", 2)}) AS BIGINT) AS bq
       |  FROM lineitem l2 JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
       |  WHERE year(o2.o_orderdate) >= 1997 GROUP BY 1, 2)
       |SELECT p_brand, c_nationkey,
       |  CAST(sum(${fxSql("l_quantity", 2)}) AS BIGINT) AS sold_qty,
       |  CAST(sum(${fxSql("rq", 2)}) AS BIGINT) AS ret_qty,
       |  CAST(sum(bq) AS BIGINT) AS rebuy_qty
       |FROM lineitem
       |JOIN ret ON rk = l_orderkey AND rl = l_linenumber
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN rebuy ON bk = o_custkey AND bp = l_partkey
       |WHERE year(o_orderdate) <= 1996
       |GROUP BY 1, 2 ORDER BY 1, 2""")

  // ---- DS Q40: before/after pivot with refunds LEFT-joined ---------------
  q("q_ds40_pivot_refunds",
    s"""WITH ref AS (
       |  SELECT l_orderkey AS rk,
       |    CAST(sum(${fxSql("l_extendedprice", 2)}) AS BIGINT) AS refund
       |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
       |SELECT c_nationkey,
       |  CAST(sum(CASE WHEN o_orderdate < DATE '1997-01-01'
       |    THEN ${fxSql("o_totalprice", 2)} - coalesce(refund, 0)
       |    ELSE 0 END) AS BIGINT) AS sales_before,
       |  CAST(sum(CASE WHEN o_orderdate >= DATE '1997-01-01'
       |    THEN ${fxSql("o_totalprice", 2)} - coalesce(refund, 0)
       |    ELSE 0 END) AS BIGINT) AS sales_after
       |FROM orders
       |LEFT OUTER JOIN ref ON rk = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE o_orderdate BETWEEN DATE '1996-07-01' AND DATE '1997-06-30'
       |GROUP BY c_nationkey ORDER BY c_nationkey""")

  // ---- DS Q48: two AND-ed disjunctive band blocks ------------------------
  q("q_ds48_band_blocks",
    s"""SELECT CAST(sum(${fxSql("l_quantity", 2)}) AS BIGINT) AS qty_sum
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE ((c_mktsegment = 'MACHINERY'
       |        AND o_totalprice BETWEEN 100000 AND 150000)
       |    OR (c_mktsegment = 'HOUSEHOLD'
       |        AND o_totalprice BETWEEN 50000 AND 100000)
       |    OR (c_mktsegment = 'BUILDING'
       |        AND o_totalprice BETWEEN 150000 AND 200000))
       |  AND ((c_nationkey IN (1, 3, 5) AND l_quantity BETWEEN 0 AND 25)
       |    OR (c_nationkey IN (7, 9, 11) AND l_quantity BETWEEN 10 AND 40)
       |    OR (c_nationkey IN (2, 4, 6) AND l_quantity BETWEEN 25 AND 50))""")

  // ---- DS Q50: return-lag day buckets per nation -------------------------
  // lag = returned-line ship date minus its order's placement date
  built("q_ds50_return_lag_buckets",
    """SELECT c_nationkey,
      |  CAST(sum(CASE WHEN lag <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(sum(CASE WHEN lag > 30 AND lag <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      |  CAST(sum(CASE WHEN lag > 60 AND lag <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      |  CAST(sum(CASE WHEN lag > 90 AND lag <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
      |  CAST(sum(CASE WHEN lag > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120plus
      |FROM (
      |  SELECT c_nationkey, datediff('day', o_orderdate, l_shipdate) AS lag
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE l_returnflag = 'R' AND year(o_orderdate) = 1996) t
      |GROUP BY c_nationkey ORDER BY c_nationkey""") { (s, dir) =>
    val lag = datediff(col("l_shipdate"), col("o_orderdate"))
    Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_shipdate")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(year(col("o_orderdate")) === 1996)
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), lag.as("lag"))
      .groupBy("c_nationkey")
      .agg(sum(when(col("lag") <= 30, 1).otherwise(0)).as("d30"),
        sum(when(col("lag") > 30 && col("lag") <= 60, 1).otherwise(0)).as("d60"),
        sum(when(col("lag") > 60 && col("lag") <= 90, 1).otherwise(0)).as("d90"),
        sum(when(col("lag") > 90 && col("lag") <= 120, 1).otherwise(0)).as("d120"),
        sum(when(col("lag") > 120, 1).otherwise(0)).as("d120plus"))
      .orderBy("c_nationkey")
  }
}
