package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** Window-function coverage (SURVEY §2.5; reference
  * src/execution/operator/aggregate/physical_window.cpp + src/function/window/).
  * All window evaluation shuffles once on the partition key — same
  * asymptotics as the reference's hash-partitioned window executor.
  */
object Windows extends Pack {

  // ranking family: row_number/rank/dense_rank/percent_rank/cume_dist/ntile
  built("q_window_ranking",
    """SELECT c_custkey, c_mktsegment,
      |  row_number() OVER w AS rn,
      |  rank() OVER w AS rk,
      |  dense_rank() OVER w AS drk,
      |  round(percent_rank() OVER w, 6) AS prk,
      |  round(cume_dist() OVER w, 6) AS cd,
      |  ntile(4) OVER w AS quartile
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_mktsegment, rn""") { (s, dir) =>
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, dir).select(
        col("c_custkey"), col("c_mktsegment"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rk"),
        dense_rank().over(w).as("drk"),
        round(percent_rank().over(w), 6).as("prk"),
        round(cume_dist().over(w), 6).as("cd"),
        ntile(4).over(w).as("quartile"))
      .orderBy("c_mktsegment", "rn")
  }

  // lag / lead with defaults and offsets
  q("q_window_lag_lead",
    """SELECT o_custkey, o_orderkey,
      |  lag(o_totalprice) OVER w AS prev_price,
      |  lead(o_totalprice) OVER w AS next_price,
      |  lag(o_totalprice, 2, -1.0) OVER w AS prev2_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""")

  // aggregate over ROWS frame (running totals) — reference window_segment_tree.cpp
  // running sums on 2-dp fixed-point BIGINT mantissas (see Q's fixed-point
  // notes — same exact integer both engines, ~2x cheaper than decimal in
  // the per-row frame evaluation)
  q("q_window_running",
    s"""SELECT o_custkey, o_orderkey,
       |  (CAST(sum(${fxSql("o_totalprice", 2)})
       |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0) AS running_total,
       |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
       |FROM orders ORDER BY o_custkey, o_orderkey""")

  // sliding ROWS frame with bounded preceding/following
  q("q_window_sliding",
    s"""SELECT l_suppkey, l_orderkey, l_linenumber,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6)))
       |    OVER w AS DOUBLE) /
       |  (count(*) OVER w) AS avg5
       |FROM lineitem WHERE l_suppkey <= 3
       |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
       |             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
       |ORDER BY l_suppkey, l_orderkey, l_linenumber""")

  // RANGE frame with numeric bounds
  q("q_window_range_frame",
    """SELECT c_custkey, c_acctbal,
      |  count(*) OVER (ORDER BY c_acctbal RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING) AS n_near
      |FROM customer ORDER BY c_custkey""")

  // RANGE frame with INTERVAL bounds on a timestamp order key; inclusive
  // bounds line up exactly with the reference's RANGE INTERVAL
  q("q_window_range_interval",
    s"""SELECT o_orderkey, o_custkey,
       |  (CAST(sum(${fxSql("o_totalprice", 2)}) OVER (
       |     PARTITION BY o_custkey ORDER BY o_orderdate
       |     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
       |   ) AS DOUBLE) / 100.0) AS trailing_7d
       |FROM orders ORDER BY o_orderkey""")

  // first_value / last_value / nth_value over frames
  q("q_window_value_fns",
    """SELECT o_custkey, o_orderkey,
      |  first_value(o_orderkey) OVER w AS first_ok,
      |  last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok,
      |  nth_value(o_orderkey, 2) OVER w AS second_ok
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""")

  // lag IGNORE NULLS (reference WindowBoundary + ignore_nulls)
  built("q_window_ignore_nulls",
    """SELECT event_id, user_id,
      |  lag(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_purchase_value
      |FROM events ORDER BY event_id""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        lag(when(col("event_type") === "purchase", col("value")), 1, null, ignoreNulls = true)
          .over(w).as("last_purchase_value"))
      .orderBy("event_id")
  }

  // row_number()<=k window-group-limit path (reference topn_window elimination,
  // optimizer.cpp:418-421 ↔ Spark 3.5 WindowGroupLimit)
  q("q_window_top2_per_group",
    """SELECT c_mktsegment, c_custkey, c_acctbal FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM customer) t WHERE rn <= 2
      |ORDER BY c_mktsegment, c_custkey""")

  // aggregate OVER () (global window, streaming fast path in the reference —
  // physical_streaming_window.cpp). A frameless global aggregate needs no
  // window at all: partial-aggregate to ONE scalar, broadcast it back —
  // fully parallel, where `Window.partitionBy()` would drag every row
  // through a single task.
  built("q_window_global",
    s"""SELECT o_orderkey,
       |  round(o_totalprice / CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER () AS DOUBLE), 9) AS price_share
       |FROM orders WHERE o_totalprice > 400000 ORDER BY o_orderkey""") { (s, dir) =>
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
    val total = o.agg(sum(col("o_totalprice").cast(S)).as("_total"))
    o.crossJoin(broadcast(total))
      .select(col("o_orderkey"),
        round(col("o_totalprice") / col("_total").cast("double"), 9).as("price_share"))
      .orderBy("o_orderkey")
  }

  // Holistic window aggregate: MEDIAN over a sliding ROWS frame
  // (reference window_aggregate_function.cpp runs holistic aggs —
  // median/quantile/mode — natively in window frames; Spark has no
  // median window fn, so the rewrite collects the frame, sorts, and
  // indexes the middle — exact, and the frame is bounded (5 rows) so the
  // per-row state is constant). Even-count median: the reference
  // interpolates doubles as lo*(1-d) + hi*d (arithmetic.cpp:1315), which
  // at d=0.5 is lo*0.5 + hi*0.5 — bit-identical to (lo+hi)/2 for normal
  // doubles (halving is an exact exponent shift), so the single
  // averaged-middles op matches by construction, NOT just on the fixture.
  built("q_window_median",
    """SELECT event_id, user_id,
      |  median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med5
      |FROM events WHERE user_id < 50 ORDER BY event_id""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(-4, Window.currentRow)
    val arr = sort_array(collect_list(col("value")).over(w))
    val n = size(arr)
    val med = when(n % 2 === 1, element_at(arr, ((n + lit(1)) / 2).cast("int")))
      .otherwise((element_at(arr, (n / 2).cast("int")) +
        element_at(arr, (n / 2).cast("int") + 1)) / 2)
    Tables.events(s, dir)
      .filter(col("user_id") < 50)
      .select(col("event_id"), col("user_id"), med.as("med5"))
      .orderBy("event_id")
  }

  // Holistic aggregate over an UNBOUNDED PRECEDING frame — the case the
  // frame-collect rewrite above cannot survive (O(n·frame) per
  // partition). operators.RunningMedian keeps incremental order
  // statistics instead (two heaps, O(n log n) per partition), the
  // Spark-shaped equivalent of the reference's window segment tree
  // (window_segment_tree.cpp:1-619). One hash shuffle on the partition
  // key; (ts, event_id) is a total order so the running prefix is
  // deterministic on both engines.
  built("q_window_median_unbounded",
    """SELECT event_id, user_id,
      |  median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS run_med
      |FROM events ORDER BY event_id""") { (s, dir) =>
    graft.operators.RunningMedian.runningMedian(
      Tables.events(s, dir).select("event_id", "user_id", "ts", "value"),
      Seq("user_id"), Seq("ts", "event_id"), "value", "run_med")
      .select("event_id", "user_id", "run_med")
      .orderBy("event_id")
  }

  // General holistic windowed quantile over the unbounded frame — the
  // case the two-heap median cannot reach (reference merge-sort tree,
  // window_merge_sort_tree.cpp): operators.RunningQuantile streams a
  // Fenwick tree over the group's coordinate-compressed values,
  // O(log m) insert + select per row. Same single hash exchange.
  built("q_window_quantile_unbounded",
    """SELECT event_id, user_id,
      |  quantile_cont(value, 0.25) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS run_q25
      |FROM events ORDER BY event_id""") { (s, dir) =>
    graft.operators.RunningQuantile.runningQuantile(
      Tables.events(s, dir).select("event_id", "user_id", "ts", "value"),
      Seq("user_id"), Seq("ts", "event_id"), "value", 0.25, "run_q25")
      .select("event_id", "user_id", "run_q25")
      .orderBy("event_id")
  }

  // GROUPS frames (SQL:2011; reference window_boundaries_state.cpp:333-367,
  // test corpus test/sql/window/test_window_groups.test_slow). The oracle
  // DuckDB (1.0.0) predates GROUPS support ("not implemented yet"), so
  // the query spells out the GROUPS rewrite: a dense_rank() group index
  // + numeric RANGE frame, identical peer boundaries by construction.
  q("q_window_groups",
    s"""SELECT c_custkey, c_mktsegment, c_nationkey,
       |  (CAST(sum(${fxSql("c_acctbal", 2)}) OVER w AS DOUBLE) / 100.0) AS grp_sum,
       |  count(*) OVER w AS grp_n
       |FROM (SELECT *, dense_rank()
       |        OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey) AS _g
       |      FROM customer) t
       |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY _g
       |             RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)
       |ORDER BY c_custkey""")

  // EXCLUDE CURRENT ROW / GROUP / TIES on a RANGE frame (reference
  // window_expression.hpp:34 WindowExcludeMode; the aggregate rewrite is
  // frame minus peer-group sums — exact for distributive aggregates, and
  // a RANGE frame always contains the current row's entire peer group so
  // the subtraction never undercounts). Peer sums come from a
  // RANGE 0..0 frame over the SAME (partition, order) spec, so all four
  // windows share one exchange + sort. Empty post-exclusion frames must
  // yield NULL (sum over nothing), hence the frame/peer count guards.
  built("q_window_exclude_modes",
    s"""SELECT c_custkey, c_mktsegment, c_nationkey,
       |  (CAST(sum(${fxSql("c_acctbal", 2)}) OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey
       |     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS DOUBLE) / 100.0) AS excl_cur,
       |  (CAST(sum(${fxSql("c_acctbal", 2)}) OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey
       |     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS DOUBLE) / 100.0) AS excl_grp,
       |  (CAST(sum(${fxSql("c_acctbal", 2)}) OVER (PARTITION BY c_mktsegment ORDER BY c_nationkey
       |     RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE TIES) AS DOUBLE) / 100.0) AS excl_ties
       |FROM customer ORDER BY c_custkey""") { (s, dir) =>
    val m = fx(col("c_acctbal"), 2)
    val wFrame = Window.partitionBy("c_mktsegment").orderBy("c_nationkey")
      .rangeBetween(-1, 1)
    val wPeer = Window.partitionBy("c_mktsegment").orderBy("c_nationkey")
      .rangeBetween(0, 0)
    val frameSum = sum(m).over(wFrame)
    val frameCnt = count(lit(1)).over(wFrame)
    val peerSum = sum(m).over(wPeer)
    val peerCnt = count(lit(1)).over(wPeer)
    Tables.customer(s, dir).select(
        col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
        when(frameCnt > 1, (frameSum - m).cast("double") / 100.0).as("excl_cur"),
        when(frameCnt > peerCnt, (frameSum - peerSum).cast("double") / 100.0).as("excl_grp"),
        ((frameSum - peerSum + m).cast("double") / 100.0).as("excl_ties"))
      .orderBy("c_custkey")
  }

  // fill() gap-interpolation (reference src/function/window/
  // window_value_function.cpp — DuckDB-specific `fill` window fn) —
  // rewritten as last/next non-null + linear interpolation. The oracle
  // DuckDB (1.0.0) predates fill(), so the oracle spells out the same
  // interpolation independently.
  built("q_window_fill",
    """WITH base AS (
      |  SELECT event_id, CASE WHEN event_type <> 'error' THEN value END AS v
      |  FROM events WHERE user_id = 1
      |), marked AS (
      |  SELECT event_id, v,
      |    last_value(v IGNORE NULLS) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS)
      |      OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk,
      |    first_value(v IGNORE NULLS) OVER (ORDER BY event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS)
      |      OVER (ORDER BY event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nk
      |  FROM base)
      |SELECT event_id,
      |  CASE WHEN v IS NOT NULL THEN v
      |       WHEN pv IS NULL THEN nv
      |       WHEN nv IS NULL THEN pv
      |       ELSE pv + (nv - pv) * (event_id - pk) / (nk - pk) END AS filled_value
      |FROM marked ORDER BY event_id""") { (s, dir) =>
    // DuckDB fill(): linear interpolation between the previous and next
    // non-null values along the ORDER BY key (event_id), extrapolating at
    // the edges to the nearest value.
    val base = Tables.events(s, dir)
      .filter(col("user_id") === 1)
      .select(col("event_id"),
        when(col("event_type") =!= "error", col("value")).as("v"))
    val wAll = Window.orderBy("event_id")
    val wPrev = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = wAll.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    base
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pk", last(when(col("v").isNotNull, col("event_id")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nk", first(when(col("v").isNotNull, col("event_id")), ignoreNulls = true).over(wNext))
      .select(col("event_id"),
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            (col("event_id") - col("pk")) / (col("nk") - col("pk")))
          .as("filled_value"))
      .orderBy("event_id")
  }

  // Full-table fill: the same gap interpolation with NO partition filter —
  // the frames are UNBOUNDED over the whole stream, so the q_window_fill
  // shape (bare Window.orderBy) would move every row through ONE task.
  // ChunkedWindow.unboundedCarry runs it as a two-pass prefix scan: local
  // carries per range chunk in parallel, per-chunk boundary payloads
  // (one row per chunk) prefix-combined on the driver, broadcast back.
  // The (key, value) pair is carried as one struct so both stay row-atomic.
  built("q_window_fill_global",
    """WITH base AS (
      |  SELECT event_id, CASE WHEN event_type <> 'error' THEN value END AS v
      |  FROM events
      |), marked AS (
      |  SELECT event_id, v,
      |    last_value(v IGNORE NULLS) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS)
      |      OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk,
      |    first_value(v IGNORE NULLS) OVER (ORDER BY event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN event_id END IGNORE NULLS)
      |      OVER (ORDER BY event_id
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nk
      |  FROM base)
      |SELECT event_id,
      |  CASE WHEN v IS NOT NULL THEN v
      |       WHEN pv IS NULL THEN nv
      |       WHEN nv IS NULL THEN pv
      |       ELSE pv + (nv - pv) * (event_id - pk) / (nk - pk) END AS filled_value
      |FROM marked ORDER BY event_id""") { (s, dir) =>
    val base = Tables.events(s, dir)
      .select(col("event_id"),
        when(col("event_type") =!= "error", col("value")).as("v"))
    graft.operators.ChunkedWindow.unboundedCarry(
        base, "event_id",
        when(col("v").isNotNull, struct(col("event_id").as("k"), col("v").as("x"))),
        "_back", "_fwd")
      .select(col("event_id"),
        when(col("v").isNotNull, col("v"))
          .when(col("_back").isNull, col("_fwd.x"))
          .when(col("_fwd").isNull, col("_back.x"))
          .otherwise(col("_back.x") + (col("_fwd.x") - col("_back.x")) *
            (col("event_id") - col("_back.k")) / (col("_fwd.k") - col("_back.k")))
          .as("filled_value"))
      .orderBy("event_id")
  }

  // QUALIFY clause (reference select.gram:148, planned as a filter over
  // the window-computed projection): per-customer top order by price.
  // graft.functions.QualifyRewrite lowers the clause pre-parse to a
  // WHERE over a windowed subquery (`* EXCEPT` drops the marker), while
  // the oracle executes it natively.
  q("q_qualify",
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM orders
      |QUALIFY row_number() OVER (PARTITION BY o_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey) = 1
      |ORDER BY o_custkey LIMIT 100""")
}
