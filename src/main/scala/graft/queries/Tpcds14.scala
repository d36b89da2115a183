package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** TPC-DS sample pack, batch 14 — the multi-CTE "monsters"
  * (`/root/reference/extension/tpcds/dsdgen/queries/{02,11,30,32,38,74}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q2:  cross-channel weekly day-of-week sales matrix, self-joined
  *         across two years for the per-weekday ratio (the week-over-week
  *         web/catalog shape).
  *  - q11: customer year-over-year growth in TWO channels, kept when the
  *         web growth ratio beats the store growth ratio — a 4-way
  *         self-join of one year_total CTE.
  *  - q74: same year_total family with a different measure/years and
  *         name-keyed output (the q11 sibling the benchmark ships
  *         separately).
  *  - q30: per-(customer, nation) return totals above 1.2× the nation
  *         average — correlated scalar over the CTE itself.
  *  - q32: "excess discount" — fact rows whose discount amount exceeds
  *         1.3× the per-part average in a date window.
  *  - q38: three-channel INTERSECT of DISTINCT (customer, day) tuples,
  *         counted.
  *
  * Scale shapes: every year_total/weekly CTE aggregates BEFORE any
  * self-join (aggregate-then-join, never join-then-aggregate); the
  * per-state / per-part averages broadcast back as tiny aggregates;
  * ratio comparisons cross-multiply exact mantissas in DECIMAL(38,0) —
  * never divide — so the gates are bit-identical across engines; the
  * INTERSECTs run on pre-DISTINCTed skinny projections.
  */
object Tpcds14 extends Pack {

  // ---- DS Q2: weekly day-of-week matrix, year-over-year ratios -----------
  // Channels = lineitem (ship) ∪ orders (order); weekday split via CASE on
  // dayofweek (Sunday=0, the reference's numbering, which the engine's
  // Registry reproduces); ratios render once as exact-int divisions (no rounding:
  // round() half-cases differ across engines, raw division cannot).
  q("q_ds2_weekday_matrix_yoy",
    s"""WITH sales AS (
       |  SELECT l_shipdate AS d, ${fxSql("l_extendedprice", 2)} AS m FROM lineitem
       |  UNION ALL
       |  SELECT o_orderdate, ${fxSql("o_totalprice", 2)} FROM orders),
       |weekly AS (
       |  SELECT year(d) AS yr, weekofyear(d) AS wk,
       |    sum(CASE WHEN dayofweek(d) = 0 THEN m END) AS sun,
       |    sum(CASE WHEN dayofweek(d) = 1 THEN m END) AS mon,
       |    sum(CASE WHEN dayofweek(d) = 3 THEN m END) AS wed,
       |    sum(CASE WHEN dayofweek(d) = 5 THEN m END) AS fri
       |  FROM sales WHERE year(d) IN (1996, 1997) GROUP BY 1, 2)
       |SELECT y1.wk AS wk,
       |  CAST(y1.sun AS DOUBLE) / y2.sun AS r_sun,
       |  CAST(y1.mon AS DOUBLE) / y2.mon AS r_mon,
       |  CAST(y1.wed AS DOUBLE) / y2.wed AS r_wed,
       |  CAST(y1.fri AS DOUBLE) / y2.fri AS r_fri
       |FROM weekly y1 JOIN weekly y2 ON y1.wk = y2.wk
       |WHERE y1.yr = 1996 AND y2.yr = 1997
       |ORDER BY wk""")

  // ---- DS Q11: two-channel year-over-year growth comparison --------------
  // year_total = per-customer yearly totals per channel (store = line
  // revenue, web = order totals). Keep customers whose web growth beats
  // their store growth: w2/w1 > s2/s1 ⟺ w2·s1 > s2·w1 (all mantissas
  // positive) — cross-multiplied in DECIMAL(38,0), never divided.
  built("q_ds11_channel_growth",
    s"""WITH store_yt AS (
       |  SELECT o_custkey AS ck, year(l_shipdate) AS yr,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS total
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE year(l_shipdate) IN (1996, 1997) GROUP BY 1, 2),
       |web_yt AS (
       |  SELECT o_custkey AS ck, year(o_orderdate) AS yr,
       |    sum(${fxSql("o_totalprice", 2)}) AS total
       |  FROM orders WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1, 2)
       |SELECT c_custkey, c_name
       |FROM customer
       |JOIN store_yt s1 ON s1.ck = c_custkey AND s1.yr = 1996
       |JOIN store_yt s2 ON s2.ck = c_custkey AND s2.yr = 1997
       |JOIN web_yt w1 ON w1.ck = c_custkey AND w1.yr = 1996
       |JOIN web_yt w2 ON w2.ck = c_custkey AND w2.yr = 1997
       |WHERE s1.total > 0 AND w1.total > 0
       |  AND CAST(w2.total AS DECIMAL(38,0)) * s1.total
       |    > CAST(s2.total AS DECIMAL(38,0)) * w1.total
       |ORDER BY c_custkey LIMIT 100""") { (s, dir) =>
    // The 4-way year_total self-join of the reference text is really a
    // per-customer PIVOT on the year: one conditional-sum aggregate per
    // channel replaces two slices of a shared CTE, so each channel is
    // scanned and shuffled ONCE and nothing needs materializing (the
    // r9 plan re-derived the lineitem⋈orders aggregate per branch — 13
    // parquet scans; this one does 2 aggregates + 2 joins). Inner-join
    // presence of a (ck, yr) slice ⟺ the conditional sum is non-NULL.
    def yrSum(yr: Int, m: org.apache.spark.sql.Column) =
      sum(when(col("yr") === yr, m))
    val storeP = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("yr", year(col("l_shipdate")))
      .filter(col("yr").isin(1996, 1997))
      .groupBy(col("o_custkey").as("ck_s"))
      .agg(
        yrSum(1996, fx(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)).as("s1"),
        yrSum(1997, fx(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)).as("s2"))
    val webP = Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").isin(1996, 1997))
      .groupBy(col("o_custkey").as("ck_w"))
      .agg(yrSum(1996, fx(col("o_totalprice"), 2)).as("w1"),
        yrSum(1997, fx(col("o_totalprice"), 2)).as("w2"))
    val d38 = "decimal(38,0)"
    Tables.customer(s, dir).select("c_custkey", "c_name")
      .join(storeP, col("c_custkey") === col("ck_s"))
      .join(webP, col("c_custkey") === col("ck_w"))
      .filter(col("s1").isNotNull && col("s2").isNotNull &&
        col("w1").isNotNull && col("w2").isNotNull &&
        col("s1") > 0 && col("w1") > 0 &&
        col("w2").cast(d38) * col("s1") > col("s2").cast(d38) * col("w1"))
      .select("c_custkey", "c_name")
      .orderBy("c_custkey").limit(100)
  }

  // ---- DS Q74: the q11 sibling (different measure/years, name output) ----
  // Store channel restricted to finished lines (l_linestatus = 'F'),
  // measure = raw extended price; years 1995/1996; output keyed by name.
  built("q_ds74_yoy_names",
    s"""WITH store_yt AS (
       |  SELECT o_custkey AS ck, year(l_shipdate) AS yr,
       |    sum(${fxSql("l_extendedprice", 2)}) AS total
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_linestatus = 'F' AND year(l_shipdate) IN (1995, 1996)
       |  GROUP BY 1, 2),
       |web_yt AS (
       |  SELECT o_custkey AS ck, year(o_orderdate) AS yr,
       |    sum(${fxSql("o_totalprice", 2)}) AS total
       |  FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1, 2)
       |SELECT c_name, c_custkey
       |FROM customer
       |JOIN store_yt s1 ON s1.ck = c_custkey AND s1.yr = 1995
       |JOIN store_yt s2 ON s2.ck = c_custkey AND s2.yr = 1996
       |JOIN web_yt w1 ON w1.ck = c_custkey AND w1.yr = 1995
       |JOIN web_yt w2 ON w2.ck = c_custkey AND w2.yr = 1996
       |WHERE s1.total > 0 AND w1.total > 0
       |  AND CAST(w2.total AS DECIMAL(38,0)) * s1.total
       |    > CAST(s2.total AS DECIMAL(38,0)) * w1.total
       |ORDER BY c_name, c_custkey LIMIT 100""") { (s, dir) =>
    // per-customer year PIVOT, as in q11 — one conditional-sum aggregate
    // per channel, no CTE re-derivation, no materialization gate
    def yrSum(yr: Int, m: org.apache.spark.sql.Column) =
      sum(when(col("yr") === yr, m))
    val storeP = Tables.lineitem(s, dir)
      .filter(col("l_linestatus") === "F")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("yr", year(col("l_shipdate")))
      .filter(col("yr").isin(1995, 1996))
      .groupBy(col("o_custkey").as("ck_s"))
      .agg(yrSum(1995, fx(col("l_extendedprice"), 2)).as("s1"),
        yrSum(1996, fx(col("l_extendedprice"), 2)).as("s2"))
    val webP = Tables.orders(s, dir)
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").isin(1995, 1996))
      .groupBy(col("o_custkey").as("ck_w"))
      .agg(yrSum(1995, fx(col("o_totalprice"), 2)).as("w1"),
        yrSum(1996, fx(col("o_totalprice"), 2)).as("w2"))
    val d38 = "decimal(38,0)"
    Tables.customer(s, dir).select("c_custkey", "c_name")
      .join(storeP, col("c_custkey") === col("ck_s"))
      .join(webP, col("c_custkey") === col("ck_w"))
      .filter(col("s1").isNotNull && col("s2").isNotNull &&
        col("w1").isNotNull && col("w2").isNotNull &&
        col("s1") > 0 && col("w1") > 0 &&
        col("w2").cast(d38) * col("s1") > col("s2").cast(d38) * col("w1"))
      .select("c_name", "c_custkey")
      .orderBy("c_name", "c_custkey").limit(100)
  }

  // ---- DS Q30: return totals above 1.2× the nation average ---------------
  // total > 1.2·avg ⟺ total·n·10 > sum·12 (n > 0) — exact mantissas in
  // DECIMAL(38,0). The per-nation stats INCLUDE the probe row (the
  // correlated subquery ranges over the full CTE), and broadcast back.
  built("q_ds30_return_outliers",
    s"""WITH ctr AS (
       |  SELECT o_custkey AS ck, c_nationkey AS nk,
       |    sum(${fxSql("l_extendedprice", 2)}) AS total
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE l_returnflag = 'R' GROUP BY 1, 2)
       |SELECT c_custkey, c_name, c_nationkey,
       |  (CAST(total AS DOUBLE) / 100.0) AS returned
       |FROM ctr JOIN customer ON ck = c_custkey
       |WHERE c_nationkey < 5
       |  AND CAST(total AS DECIMAL(38,0)) * 10 *
       |      (SELECT count(*) FROM ctr c2 WHERE c2.nk = ctr.nk)
       |    > (SELECT CAST(sum(total) AS DECIMAL(38,0)) FROM ctr c2
       |       WHERE c2.nk = ctr.nk) * 12
       |ORDER BY c_custkey""") { (s, dir) =>
    val ctr = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey").as("ck"), col("c_nationkey").as("nk"))
      .agg(sum(fx(col("l_extendedprice"), 2)).as("total"))
    val stats = ctr.groupBy(col("nk").as("snk"))
      .agg(count(lit(1)).as("n"), sum("total").as("ssum"))
    val d38 = "decimal(38,0)"
    ctr.join(broadcast(stats), col("nk") === col("snk"))
      .filter(col("total").cast(d38) * 10 * col("n") >
        col("ssum").cast(d38) * 12)
      .join(Tables.customer(s, dir).select("c_custkey", "c_name", "c_nationkey"),
        col("ck") === col("c_custkey"))
      .filter(col("c_nationkey") < 5)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        (col("total").cast("double") / 100.0).as("returned"))
      .orderBy("c_custkey")
  }

  // ---- DS Q32: excess discount amount ------------------------------------
  // amt > 1.3·avg(amt per part, window) ⟺ amt·10·n > sum·13. The discount
  // amount mantissa is price·discount at 4dp; the per-part stats come from
  // the SAME windowed subset and broadcast.
  q("q_ds32_excess_discount",
    s"""WITH win AS (
       |  SELECT l_partkey AS pk, ${fxSql("l_extendedprice * l_discount", 4)} AS amt
       |  FROM lineitem
       |  WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'),
       |stats AS (
       |  SELECT pk, count(*) AS n, CAST(sum(amt) AS DECIMAL(38,0)) AS s
       |  FROM win GROUP BY pk)
       |SELECT CAST(sum(w.amt) AS BIGINT) AS excess_mantissa, count(*) AS n_rows
       |FROM win w JOIN stats st ON w.pk = st.pk
       |JOIN part ON p_partkey = w.pk
       |WHERE p_size <= 10
       |  AND CAST(w.amt AS DECIMAL(38,0)) * 10 * st.n > st.s * 13""")

  // ---- DS Q38: three-channel INTERSECT of DISTINCT (customer, day) -------
  // Channels = order placement / any shipment / returned shipment. Each
  // branch pre-DISTINCTs its skinny (name, day) projection; Catalyst
  // plans the INTERSECTs as semi joins over the aggregates.
  q("q_ds38_triple_intersect",
    """WITH ord AS (
      |  SELECT DISTINCT c_name, o_orderdate AS d
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE year(o_orderdate) = 1996),
      |shp AS (
      |  SELECT DISTINCT c_name, l_shipdate AS d
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE year(l_shipdate) = 1996),
      |ret AS (
      |  SELECT DISTINCT c_name, l_shipdate AS d
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE l_returnflag = 'R' AND year(l_shipdate) = 1996)
      |SELECT count(*) AS n FROM (
      |  SELECT * FROM ord INTERSECT SELECT * FROM shp
      |  INTERSECT SELECT * FROM ret) t""")
}
