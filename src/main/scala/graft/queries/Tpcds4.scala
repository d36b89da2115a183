package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** TPC-DS sample pack, batch 4 — the multi-channel "monster" shapes
  * (`/root/reference/extension/tpcds/dsdgen/queries/{64,72,95}.sql`),
  * fixture-adapted like Tpcds/Tpcds2/Tpcds3:
  *
  *  - q64: a long dimension join chain feeding per-(item, year) grouped
  *         aggregates that are then SELF-JOINED across years with an
  *         inequality over the aggregated measures — the join-order
  *         stress is that the self-join keys are aggregate outputs, not
  *         base columns.
  *  - q72: demand rows equi-joined to a supply snapshot at a DERIVED time
  *         key (previous week) with a quantity-shortage inequality, plus
  *         a LEFT join whose null side is counted — the classic
  *         inventory×date_dim lag-join.
  *  - q95: stacked semi-joins — orders fulfilled by ≥2 distinct suppliers
  *         (EXISTS-style aggregate-gated set) that were NOT returned
  *         (anti set), with a distinct-count + sum over the survivors.
  *
  * Scale shapes: the grouped aggregates run partial+final before any
  * self-join; the week-lag join is an equi-join on (part, week-index) —
  * never an inequality-only join; the q95 gate sets reduce to orderkey
  * lists that join semi/anti without materializing the lineitem side.
  */
object Tpcds4 extends Pack {

  // ---- DS Q64: cross-year self-join of grouped sales ---------------------
  // All avg comparisons and renderings stay in EXACT integer arithmetic:
  // the per-group revenue mantissa sum (4 dp, BIGINT — bounded: ≤ ~1e14
  // per (part, year) group even at SF100) is compared across years by
  // cross-multiplication in DECIMAL(38,0) (no division, no rounding), and
  // rendered as a truncated 6-dp mantissa via integer division — a rounded
  // double avg flaps its last digit between engines on .5-boundary reps.
  built("q_ds64_repeat_channel_price",
    s"""WITH sales AS (
       |  SELECT l_partkey AS pk, year(o_orderdate) AS yr,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS msum,
       |    count(*) AS cnt
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE year(o_orderdate) IN (1995, 1996)
       |  GROUP BY 1, 2)
       |SELECT p.p_partkey, p.p_brand,
       |  CAST((s1.msum * 100) // s1.cnt AS DOUBLE) / 1000000.0 AS price_y1,
       |  CAST((s2.msum * 100) // s2.cnt AS DOUBLE) / 1000000.0 AS price_y2,
       |  s1.cnt + s2.cnt AS n_sales
       |FROM sales s1
       |JOIN sales s2 ON s1.pk = s2.pk
       |JOIN part p ON p.p_partkey = s1.pk
       |WHERE s1.yr = 1995 AND s2.yr = 1996
       |  AND CAST(s2.msum AS DECIMAL(38,0)) * s1.cnt
       |    <= CAST(s1.msum AS DECIMAL(38,0)) * s2.cnt
       |ORDER BY p.p_partkey""") { (s, dir) =>
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"))
      .filter(col("yr").isin(1995, 1996))
    val sales = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey").as("pk"), col("yr"))
      .agg(sum(fx(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)).as("msum"),
        count(lit(1)).as("cnt"))
    val s1 = sales.filter(col("yr") === 1995)
      .select(col("pk"), col("msum").as("m1"), col("cnt").as("c1"))
    val s2 = sales.filter(col("yr") === 1996)
      .select(col("pk").as("pk2"), col("msum").as("m2"), col("cnt").as("c2"))
    s1.join(s2, col("pk") === col("pk2") &&
        col("m2").cast("decimal(38,0)") * col("c1") <=
          col("m1").cast("decimal(38,0)") * col("c2"))
      .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
        col("p_partkey") === col("pk"))
      .select(col("p_partkey"), col("p_brand"),
        (expr("(m1 * 100) div c1").cast("double") / 1000000.0).as("price_y1"),
        (expr("(m2 * 100) div c2").cast("double") / 1000000.0).as("price_y2"),
        (col("c1") + col("c2")).as("n_sales"))
      .orderBy("p_partkey")
  }

  // ---- DS Q72: week-lagged supply join with shortage inequality ----------
  // Week index = floor(days since Mon 1995-01-02 / 7) — an INTEGER derived
  // join key, identical arithmetic in both engines (floor over exact ints).
  built("q_ds72_lagged_fulfillment",
    s"""WITH li AS (
       |  SELECT l_partkey AS pk, l_quantity,
       |    CAST(floor(datediff('day', DATE '1995-01-02',
       |      CAST(date_trunc('week', l_shipdate) AS DATE)) / 7.0) AS INTEGER) AS wk
       |  FROM lineitem WHERE l_shipdate >= DATE '1995-01-09'),
       |supply AS (
       |  SELECT pk, wk, ${fsumSql("l_quantity", 2)} AS stock FROM li GROUP BY 1, 2)
       |SELECT d.wk, count(*) AS n_short,
       |  count(CASE WHEN p.p_partkey IS NULL THEN 1 END) AS n_small_part,
       |  ${fsumSql("d.l_quantity", 2)} AS short_qty
       |FROM li d
       |JOIN supply s ON s.pk = d.pk AND s.wk = d.wk - 1
       |LEFT JOIN part p ON p.p_partkey = d.pk AND p.p_size > 40
       |WHERE s.stock < d.l_quantity * 4
       |GROUP BY d.wk ORDER BY d.wk""") { (s, dir) =>
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1995-01-09").cast("date"))
      .select(col("l_partkey").as("pk"), col("l_quantity"),
        floor(datediff(to_date(date_trunc("week", col("l_shipdate"))),
          lit("1995-01-02").cast("date")) / 7.0).cast("int").as("wk"))
    val supply = li.groupBy(col("pk").as("spk"), col("wk").as("swk"))
      .agg(fsum(col("l_quantity"), 2).as("stock"))
    val p = Tables.part(s, dir).filter(col("p_size") > 40).select("p_partkey")
    li.join(supply, col("spk") === col("pk") && col("swk") === col("wk") - 1)
      .filter(col("stock") < col("l_quantity") * 4)
      .join(broadcast(p), col("p_partkey") === col("pk"), "left")
      .groupBy("wk")
      .agg(count(lit(1)).as("n_short"),
        count(when(col("p_partkey").isNull, 1)).as("n_small_part"),
        fsum(col("l_quantity"), 2).as("short_qty"))
      .orderBy("wk")
  }

  // ---- DS Q95: stacked semi/anti gates over aggregate-defined sets -------
  q("q_ds95_multi_supplier_orders",
    s"""WITH multi AS (
       |  SELECT l_orderkey FROM lineitem
       |  GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 2),
       |returned AS (
       |  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
       |SELECT o_orderpriority, count(*) AS n_orders,
       |  ${fsumSql("o_totalprice", 2)} AS total
       |FROM orders
       |WHERE o_orderkey IN (SELECT l_orderkey FROM multi)
       |  AND o_orderkey NOT IN (SELECT l_orderkey FROM returned)
       |GROUP BY 1 ORDER BY 1""")
}
