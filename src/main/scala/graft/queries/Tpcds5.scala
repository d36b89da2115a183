package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** TPC-DS sample pack, batch 5 — the statistics-over-window shapes
  * (`/root/reference/extension/tpcds/dsdgen/queries/{36,39,47,59,93}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q39: per-group mean/stddev (coefficient of variation) computed from
  *         integer moments, with a consecutive-period self-join of the
  *         qualifying groups — the "cov" inventory shape.
  *  - q47: monthly sales vs the year average of the same brand (window
  *         avg + lag/lead neighbors), selecting large deviations.
  *  - q59: week-over-week revenue ratio — one aggregate self-joined
  *         across years on (nation, week-index).
  *  - q93: returns-adjusted quantities — LEFT JOIN against a derived
  *         returns subset, coalesce-corrected, reaggregated.
  *  - q36: ROLLUP revenue with RANK() partitioned by grouping level
  *         (lochierarchy) — window-over-grouping-sets.
  *
  * Exactness: every compared/ranked measure is an integer mantissa
  * (fx/BIGINT) or an exact integer moment; divisions to render doubles
  * happen once, at output, on identical exact operands in both engines.
  * Scale shapes: all aggregates run partial+final before any self-join or
  * window; self-joins key on low-cardinality (group, period) pairs; the
  * q93 left join is an equi-join on the lineitem PK.
  */
object Tpcds5 extends Pack {

  // ---- DS Q39: coefficient-of-variation join across consecutive months ---
  // var_samp = (n·ss − s²)/(n(n−1)), mean = s/n, both from exact BIGINT
  // moments; the cov>0.5 gate cross-multiplies in DECIMAL(38,0) — no
  // division, no rounding: 4n²(n·ss − s²) > n(n−1)s². The rendered cov
  // performs the identical double ops on identical exact ints both sides.
  q("q_ds39_qty_cov",
    """WITH m AS (
      |  SELECT l_suppkey AS sk, month(l_shipdate) AS mo,
      |    count(*) AS n,
      |    sum(CAST(l_quantity AS BIGINT)) AS s,
      |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS ss
      |  FROM lineitem WHERE year(l_shipdate) = 1995
      |  GROUP BY 1, 2 HAVING count(*) > 1),
      |c AS (
      |  SELECT * FROM m
      |  WHERE CAST(4 AS DECIMAL(38,0)) * n * n * (n * ss - s * s)
      |      > CAST(n AS DECIMAL(38,0)) * (n - 1) * s * s)
      |SELECT c1.sk AS s_suppkey, c1.mo AS mo1, c2.mo AS mo2,
      |  sqrt(CAST(c1.n * c1.ss - c1.s * c1.s AS DOUBLE) / (CAST(c1.n AS DOUBLE) * (c1.n - 1)))
      |    / (CAST(c1.s AS DOUBLE) / c1.n) AS cov1,
      |  sqrt(CAST(c2.n * c2.ss - c2.s * c2.s AS DOUBLE) / (CAST(c2.n AS DOUBLE) * (c2.n - 1)))
      |    / (CAST(c2.s AS DOUBLE) / c2.n) AS cov2
      |FROM c c1 JOIN c c2 ON c1.sk = c2.sk AND c2.mo = c1.mo + 1
      |ORDER BY s_suppkey, mo1""")

  // ---- DS Q47: deviation from the brand's year-average ------------------
  // The >1.2·avg gate stays integer: 10·msum·cnt > 12·total (DECIMAL 38).
  q("q_ds47_brand_deviation",
    s"""WITH bm AS (
       |  SELECT p_brand AS brand, month(o_orderdate) AS mo,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS msum
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey
       |  WHERE year(o_orderdate) = 1995
       |  GROUP BY 1, 2),
       |w AS (
       |  SELECT brand, mo, msum,
       |    sum(msum) OVER (PARTITION BY brand) AS total,
       |    count(*) OVER (PARTITION BY brand) AS cnt,
       |    lag(msum) OVER (PARTITION BY brand ORDER BY mo) AS prev_m,
       |    lead(msum) OVER (PARTITION BY brand ORDER BY mo) AS next_m
       |  FROM bm)
       |SELECT brand, mo,
       |  CAST(msum AS DOUBLE) / 10000.0 AS sales,
       |  CAST(msum AS DOUBLE) * cnt / total AS ratio_to_avg,
       |  CAST(prev_m AS DOUBLE) / 10000.0 AS prev_sales,
       |  CAST(next_m AS DOUBLE) / 10000.0 AS next_sales
       |FROM w
       |WHERE CAST(10 AS DECIMAL(38,0)) * msum * cnt > CAST(12 AS DECIMAL(38,0)) * total
       |ORDER BY brand, mo""")

  // ---- DS Q59: period-over-period revenue ratio --------------------------
  // DS q59 compares the same store-week across consecutive years; the
  // fixture's order density makes (nation, 4-week period) the equivalent
  // grain: period index = (dayofyear−1) div 28, identical integer
  // derivation in both engines — no ISO-week edge cases.
  built("q_ds59_yoy_revenue",
    s"""WITH wk AS (
       |  SELECT c_nationkey AS nk, year(o_orderdate) AS yr,
       |    (dayofyear(o_orderdate) - 1) // 28 AS widx,
       |    sum(${fxSql("o_totalprice", 2)}) AS msum
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE year(o_orderdate) IN (1995, 1996)
       |  GROUP BY 1, 2, 3)
       |SELECT w1.nk AS nationkey, w1.widx AS widx,
       |  CAST(w1.msum AS DOUBLE) / 100.0 AS rev_y1,
       |  CAST(w2.msum AS DOUBLE) / 100.0 AS rev_y2,
       |  CAST(w2.msum AS DOUBLE) / w1.msum AS yoy_ratio
       |FROM wk w1 JOIN wk w2 ON w1.nk = w2.nk AND w1.widx = w2.widx
       |WHERE w1.yr = 1995 AND w2.yr = 1996
       |ORDER BY nationkey, widx""") { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("yr"),
        floor((dayofyear(col("o_orderdate")) - 1) / 28).cast("int").as("widx"))
      .filter(col("yr").isin(1995, 1996))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey").as("nk"))
    val wk = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("nk", "yr", "widx")
      .agg(sum(fx(col("o_totalprice"), 2)).as("msum"))
    val w1 = wk.filter(col("yr") === 1995)
      .select(col("nk"), col("widx"), col("msum").as("m1"))
    val w2 = wk.filter(col("yr") === 1996)
      .select(col("nk").as("nk2"), col("widx").as("widx2"), col("msum").as("m2"))
    w1.join(w2, col("nk") === col("nk2") && col("widx") === col("widx2"))
      .select(col("nk").as("nationkey"), col("widx"),
        (col("m1").cast("double") / 100.0).as("rev_y1"),
        (col("m2").cast("double") / 100.0).as("rev_y2"),
        (col("m2").cast("double") / col("m1")).as("yoy_ratio"))
      .orderBy("nationkey", "widx")
  }

  // ---- DS Q93: returns-adjusted quantity ---------------------------------
  // The "returns table" is the derived subset of lineitem rows flagged R
  // with late receipt; sales LEFT JOIN returns on the lineitem PK, the
  // null side coalesces to zero correction — then reaggregate.
  built("q_ds93_returns_adjusted",
    """WITH ret AS (
      |  SELECT l_orderkey AS rk, l_linenumber AS rl,
      |    CAST(l_quantity AS BIGINT) // 2 AS ret_qty
      |  FROM lineitem
      |  WHERE l_returnflag = 'R' AND l_linestatus = 'F' AND l_linenumber % 2 = 1)
      |SELECT o_orderpriority,
      |  CAST(sum(CAST(l_quantity AS BIGINT) - coalesce(ret_qty, 0)) AS BIGINT) AS adj_qty,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN ret ON l_orderkey = rk AND l_linenumber = rl
      |WHERE year(o_orderdate) = 1995
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val ret = li.filter(col("l_returnflag") === "R" &&
        col("l_linestatus") === "F" && col("l_linenumber") % 2 === 1)
      .select(col("l_orderkey").as("rk"), col("l_linenumber").as("rl"),
        (col("l_quantity").cast("bigint") / 2).cast("bigint").as("ret_qty"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .filter(year(col("o_orderdate")) === 1995)
    li.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(ret, col("l_orderkey") === col("rk") && col("l_linenumber") === col("rl"), "left")
      .groupBy("o_orderpriority")
      .agg(sum(col("l_quantity").cast("bigint") - coalesce(col("ret_qty"), lit(0)))
          .cast("bigint").as("adj_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy("o_orderpriority")
  }

  // ---- DS Q36: ROLLUP revenue ranked within grouping level ---------------
  // lochierarchy = grouping(seg)+grouping(nation); rank partitions on the
  // level AND (for the leaf level) the segment — the window-over-
  // grouping-sets planner shape. Ranks compare exact BIGINT mantissas.
  q("q_ds36_rollup_rank",
    s"""WITH r AS (
       |  SELECT c_mktsegment AS seg, n_name AS nation,
       |    sum(${fxSql("o_totalprice", 2)}) AS msum,
       |    grouping(c_mktsegment) + grouping(n_name) AS lochierarchy,
       |    grouping(n_name) AS g_nation
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE year(o_orderdate) = 1995
       |  GROUP BY ROLLUP (c_mktsegment, n_name))
       |SELECT seg, nation, lochierarchy,
       |  CAST(msum AS DOUBLE) / 100.0 AS revenue,
       |  rank() OVER (
       |    PARTITION BY lochierarchy, CASE WHEN g_nation = 0 THEN seg END
       |    ORDER BY msum DESC) AS rnk
       |FROM r ORDER BY lochierarchy DESC, seg, nation""")
}
