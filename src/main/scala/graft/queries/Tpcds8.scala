package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables
import Q._

/** TPC-DS sample pack, batch 8
  * (`/root/reference/extension/tpcds/dsdgen/queries/{25,49,58,66,75}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q25: sale → return → repurchase chain — a three-way fact self-join
  *         on (customer, part) with date-ordering residuals.
  *  - q49: worst return-ratio rankings per channel, unioned with a
  *         channel tag (rank over an exact-ratio ordering).
  *  - q58: items with near-equal revenue across channels (±10% band
  *         compared by cross-multiplication — no division in the gate).
  *  - q66: wide time-band conditional-aggregation matrix per group.
  *  - q75: prior-year delta per brand (count and revenue deltas as exact
  *         integer differences).
  *
  * Scale shapes: the q25 chain joins shuffle on (custkey, partkey) once
  * and keep date predicates as residuals; q49's windows run over per-part
  * aggregates; q58/q75 self-join dimension-sized aggregates; q66 is a
  * single-scan conditional agg.
  */
object Tpcds8 extends Pack {

  // ---- DS Q25: sale → return → repurchase chain --------------------------
  // Chained on the customer with 90-day windows between hops: the windows
  // bound each hop's fan-out to a constant, so the chain join stays
  // LINEAR in fact size at any SF (an unwindowed customer chain would
  // grow quadratically). Sale month pinned like q25's single-month dim
  // filter.
  q("q_ds25_rebuy_chain",
    s"""WITH sale AS (
       |  SELECT o_custkey AS ck, l_shipdate AS d1,
       |    ${fxSql("l_extendedprice * (1 - l_discount)", 4)} AS m1
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'N' AND year(l_shipdate) = 1995 AND month(l_shipdate) = 1),
       |ret AS (
       |  SELECT o_custkey AS ck, l_shipdate AS d2
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R'),
       |rebuy AS (
       |  SELECT o_custkey AS ck, l_shipdate AS d3,
       |    ${fxSql("l_extendedprice * (1 - l_discount)", 4)} AS m3
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'N')
       |SELECT sale.ck AS c_custkey,
       |  count(*) AS n_chains,
       |  CAST(min(m1) AS DOUBLE) / 10000.0 AS first_sale,
       |  CAST(max(m3) AS DOUBLE) / 10000.0 AS max_rebuy
       |FROM sale
       |JOIN ret ON sale.ck = ret.ck
       |  AND ret.d2 > sale.d1 AND ret.d2 <= sale.d1 + INTERVAL 90 DAY
       |JOIN rebuy ON sale.ck = rebuy.ck
       |  AND rebuy.d3 > ret.d2 AND rebuy.d3 <= ret.d2 + INTERVAL 90 DAY
       |GROUP BY 1 ORDER BY 1""")

  // ---- DS Q49: worst return-ratio rankings per channel, unioned ----------
  // ratio orders by the identical double division of exact ints in both
  // engines; pk tiebreak makes the rank total.
  built("q_ds49_return_rank",
    """WITH pr AS (
      |  SELECT year(l_shipdate) AS yr, l_partkey AS pk,
      |    sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS rq,
      |    sum(CAST(l_quantity AS BIGINT)) AS sq
      |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
      |  GROUP BY 1, 2 HAVING sum(CAST(l_quantity AS BIGINT)) > 0),
      |rk AS (
      |  SELECT yr, pk, rq, sq,
      |    CAST(rq AS DOUBLE) / sq AS ratio,
      |    rank() OVER (PARTITION BY yr ORDER BY CAST(rq AS DOUBLE) / sq DESC, pk) AS rnk
      |  FROM pr)
      |SELECT concat('y', CAST(yr AS VARCHAR)) AS channel, pk,
      |  CAST(rq AS BIGINT) AS rq, CAST(sq AS BIGINT) AS sq, ratio, rnk
      |FROM rk WHERE rnk <= 10 ORDER BY channel, rnk""") { (s, dir) =>
    val qb = col("l_quantity").cast("bigint")
    val pr = Tables.lineitem(s, dir)
      .withColumn("yr", year(col("l_shipdate")))
      .filter(col("yr").isin(1995, 1996))
      .groupBy(col("yr"), col("l_partkey").as("pk"))
      .agg(sum(when(col("l_returnflag") === "R", qb).otherwise(0)).as("rq"),
        sum(qb).as("sq"))
      .filter(col("sq") > 0)
    val ratio = col("rq").cast("double") / col("sq")
    pr.select(col("yr"), col("pk"), col("rq"), col("sq"), ratio.as("ratio"),
        rank().over(Window.partitionBy("yr").orderBy(ratio.desc, col("pk"))).as("rnk"))
      .filter(col("rnk") <= 10)
      .select(concat(lit("y"), col("yr").cast("string")).as("channel"),
        col("pk"), col("rq"), col("sq"), col("ratio"), col("rnk"))
      .orderBy("channel", "rnk")
  }

  // ---- DS Q58: near-equal revenue across channels ------------------------
  // channels = half-years; |mA − mB| ≤ 10% of mB gated by integer
  // cross-multiplication: 9·mB ≤ 10·mA AND 10·mA ≤ 11·mB.
  q("q_ds58_equal_channels",
    s"""WITH hy AS (
       |  SELECT l_partkey AS pk,
       |    sum(CASE WHEN month(l_shipdate) <= 6
       |             THEN ${fxSql("l_extendedprice * (1 - l_discount)", 4)} ELSE 0 END) AS ma,
       |    sum(CASE WHEN month(l_shipdate) > 6
       |             THEN ${fxSql("l_extendedprice * (1 - l_discount)", 4)} ELSE 0 END) AS mb
       |  FROM lineitem WHERE year(l_shipdate) = 1995
       |  GROUP BY 1 HAVING sum(CASE WHEN month(l_shipdate) > 6
       |             THEN ${fxSql("l_extendedprice * (1 - l_discount)", 4)} ELSE 0 END) > 0)
       |SELECT pk,
       |  CAST(ma AS DOUBLE) / 10000.0 AS rev_h1,
       |  CAST(mb AS DOUBLE) / 10000.0 AS rev_h2
       |FROM hy
       |WHERE CAST(9 AS DECIMAL(38,0)) * mb <= CAST(10 AS DECIMAL(38,0)) * ma
       |  AND CAST(10 AS DECIMAL(38,0)) * ma <= CAST(11 AS DECIMAL(38,0)) * mb
       |ORDER BY pk""")

  // ---- DS Q66: wide time-band conditional-aggregation matrix -------------
  q("q_ds66_time_bands",
    """SELECT l_suppkey, year(l_shipdate) AS yr,
      |  CAST(sum(CASE WHEN month(l_shipdate) BETWEEN 1 AND 3 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q1_qty,
      |  CAST(sum(CASE WHEN month(l_shipdate) BETWEEN 4 AND 6 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q2_qty,
      |  CAST(sum(CASE WHEN month(l_shipdate) BETWEEN 7 AND 9 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q3_qty,
      |  CAST(sum(CASE WHEN month(l_shipdate) BETWEEN 10 AND 12 THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q4_qty,
      |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS ret_qty
      |FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
      |GROUP BY 1, 2 ORDER BY 1, 2""")

  // ---- DS Q75: prior-year delta per brand --------------------------------
  q("q_ds75_prior_year_delta",
    s"""WITH by_yr AS (
       |  SELECT p_brand AS brand, year(l_shipdate) AS yr,
       |    count(*) AS cnt,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS msum
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  WHERE year(l_shipdate) IN (1995, 1996)
       |  GROUP BY 1, 2)
       |SELECT y1.brand AS brand,
       |  y2.cnt - y1.cnt AS cnt_delta,
       |  CAST(y2.msum - y1.msum AS DOUBLE) / 10000.0 AS rev_delta
       |FROM by_yr y1 JOIN by_yr y2 ON y1.brand = y2.brand
       |WHERE y1.yr = 1995 AND y2.yr = 1996 AND y2.msum < y1.msum
       |ORDER BY brand""")
}
