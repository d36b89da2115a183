package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** Scan / filter / join / sort / limit / set-op coverage
  * (SURVEY §2.1, §2.2, §2.3, §2.6, §2.7).
  */
object Relational extends Pack {

  // ---- scans (2.1) --------------------------------------------------------

  // PhysicalTableScan w/ pushed filter + projection
  // (reference src/execution/operator/scan/physical_table_scan.cpp)
  q("q_scan_pushdown",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |WHERE l_quantity < 3 AND l_shipdate >= TIMESTAMP '1997-01-01'
      |ORDER BY l_orderkey, l_linenumber""")

  // range/generate_series table function (reference src/function/table/range.cpp:390)
  built("q_range_series",
    """SELECT r.range AS id, r.range * 2 AS doubled FROM range(1, 101) r ORDER BY id""") { (s, _) =>
    s.range(1, 101).toDF("id")
      .withColumn("doubled", col("id") * 2)
      .orderBy("id")
  }

  // ---- joins (2.3) --------------------------------------------------------

  // inner hash join (reference src/execution/operator/join/physical_hash_join.cpp)
  built("q_join_inner",
    """SELECT o_orderkey, c_name, o_totalprice FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |WHERE o_totalprice > 400000
      |ORDER BY o_orderkey""") { (s, dir) =>
    val o = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
    val c = Tables.customer(s, dir)
    // dimension side broadcast: no shuffle of the fact table
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // left outer join + group (JoinType::LEFT, join_type.hpp:20)
  q("q_join_left",
    """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name ORDER BY c_custkey""")

  // right outer join (JoinType::RIGHT)
  q("q_join_right",
    """SELECT n_name, count(c_custkey) AS n_cust
      |FROM customer RIGHT JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""")

  // full outer join (JoinType::OUTER)
  q("q_join_full",
    """SELECT a.c_custkey AS big_cust, b.c_custkey AS poor_cust
      |FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 9000) a
      |FULL JOIN (SELECT c_custkey FROM customer WHERE c_acctbal < -500) b
      |  ON a.c_custkey = b.c_custkey
      |ORDER BY big_cust NULLS LAST, poor_cust NULLS LAST""")

  // LEFT SEMI (EXISTS) — JoinType::SEMI, join_type.hpp:24
  q("q_join_semi",
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      |ORDER BY o_orderkey""")

  // LEFT ANTI (NOT EXISTS) — JoinType::ANTI, join_type.hpp:25
  q("q_join_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""")

  // cross product (reference physical_cross_product.cpp)
  q("q_join_cross",
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""")

  // non-equi / range predicate join (reference piecewise merge join / IEJoin,
  // physical_piecewise_merge_join.cpp, physical_iejoin.cpp) — Spark's only
  // native plan is broadcast nested-loop, which dies when neither side
  // broadcasts; graft.operators.RangeJoin band-partitions both sides on the
  // inequality column instead (one shuffle each, B-way-parallel in-band NLJ).
  built("q_join_range",
    """SELECT s.s_suppkey, count(*) AS n_cheaper
      |FROM supplier s JOIN customer c
      |  ON c.c_acctbal < s.s_acctbal AND c.c_nationkey <> s.s_nationkey
      |GROUP BY s.s_suppkey ORDER BY s.s_suppkey""") { (s, dir) =>
    val sup = Tables.supplier(s, dir)
      .select("s_suppkey", "s_acctbal", "s_nationkey")
    val c = Tables.customer(s, dir)
      .select("c_custkey", "c_acctbal", "c_nationkey")
    graft.operators.RangeJoin.bandedLess(
        c, "c_acctbal", sup, "s_acctbal",
        residual = Some(col("c_nationkey") =!= col("s_nationkey")))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_cheaper"))
      .orderBy("s_suppkey")
  }

  // IN / NOT IN (null-aware) subqueries → Catalyst ExistenceJoin ≈ MARK join
  // (reference join_type.hpp:26, plan_subquery.cpp)
  q("q_in_subquery",
    """SELECT p_partkey, p_name FROM part
      |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
      |ORDER BY p_partkey""")

  q("q_scalar_subquery",
    """SELECT c_custkey, c_acctbal FROM customer
      |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
      |ORDER BY c_custkey""")

  // correlated scalar subquery → SINGLE join (reference join_type.hpp:28)
  q("q_correlated_scalar",
    """SELECT o_orderkey,
      |  (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |   FROM lineitem WHERE l_orderkey = o_orderkey) AS order_revenue
      |FROM orders WHERE o_totalprice > 450000 ORDER BY o_orderkey""")

  // Exact fixed-point revenue sum(l_extendedprice*(1-l_discount)): 2-dp
  // mantissas price_c×(100-disc_c) accumulate in BIGINT (units 1e-4) —
  // see Q's fixed-point notes; ≤1e11/row keeps sf-scale sums « 2^63.
  private val revenueSql =
    s"(CAST(sum(${fxSql("l_extendedprice", 2)} * (100 - ${fxSql("l_discount", 2)})) AS DOUBLE) / 10000.0)"

  // TPC-H Q3 shape (reference extension/tpch/dbgen/queries/q03.sql):
  // 3-way join, filter both sides of the date, group, top-10 by revenue.
  // The two dimension-side filters cut before the fact join; AQE picks
  // broadcast for the filtered customer side.
  q("q3_top_revenue",
    s"""SELECT o_orderkey,
       |  ${revenueSql} AS revenue,
       |  o_orderdate, o_orderpriority
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-03-15'
       |  AND l_shipdate > TIMESTAMP '1998-03-15'
       |GROUP BY o_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, o_orderkey LIMIT 10""")

  // TPC-H Q5 shape (reference q05.sql): 6-way snowflake join; all
  // dimensions broadcast, single shuffle for the final group-by.
  q("q5_region_revenue",
    s"""SELECT n_name,
       |  ${revenueSql} AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY n_name ORDER BY revenue DESC, n_name""")

  // TPC-H Q10 shape (reference q10.sql): returned items by customer, 4-way
  // join, top-20 by revenue. Only the date-sliced orders and the R-flagged
  // lineitems reach the join; nation broadcasts.
  q("q10_returned_items",
    s"""SELECT c_custkey, c_name, ${revenueSql} AS revenue, c_acctbal, n_name
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1996-10-01'
       |  AND o_orderdate < TIMESTAMP '1997-01-01'
       |  AND l_returnflag = 'R'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey LIMIT 20""")

  // TPC-H Q18 shape (reference q18.sql): large-quantity orders via a
  // grouped HAVING semi-join back onto the fact table. The inner aggregate
  // and the outer join share the l_orderkey shuffle partitioning.
  q("q18_large_orders",
    s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       |  ${fsumSql("l_quantity", 2)} AS total_qty
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE o_orderkey IN (
       |  SELECT l_orderkey FROM lineitem
       |  GROUP BY l_orderkey HAVING sum(CAST(round(l_quantity*100) AS BIGINT)) > 20000)
       |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")

  // TPC-H Q4 shape (reference q04.sql, adapted to the fixture's columns):
  // correlated EXISTS → left-semi join on l_orderkey; the probe side is
  // date-sliced before the join.
  q("q4_priority_check",
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""")

  // TPC-H Q12 shape (reference q12.sql): join + CASE-bucketed counts.
  q("q12_priority_buckets",
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""")

  // TPC-H Q14 shape (reference q14.sql): promo revenue share — broadcast
  // part join, conditional/total fixed-point sums in one pass.
  q("q14_promo_revenue",
    s"""SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
       |    THEN ${fxSql("l_extendedprice", 2)} * (100 - ${fxSql("l_discount", 2)})
       |    ELSE 0 END) AS DOUBLE)
       |  / CAST(sum(${fxSql("l_extendedprice", 2)} * (100 - ${fxSql("l_discount", 2)})) AS DOUBLE), 6) AS promo_share_pct
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
       |  AND l_shipdate < TIMESTAMP '1997-10-01'""")

  // ---- sort / limit / top-k (2.6) ----------------------------------------

  // TopN: ORDER BY + LIMIT → TakeOrderedAndProject (reference physical_top_n.cpp)
  q("q_topn",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")

  // LIMIT + OFFSET (reference physical_limit.cpp)
  q("q_limit_offset",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""")

  // multi-key sort w/ NULLS FIRST/LAST + collation-style ordering
  q("q_orderby_nulls",
    """SELECT c_custkey,
      |       CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
      |FROM customer
      |ORDER BY bal DESC NULLS FIRST, c_custkey LIMIT 50""")

  // TABLESAMPLE BERNOULLI (reference sample_options.hpp): each row kept
  // independently with probability p. The coin is a deterministic Knuth
  // multiplicative hash of the unique row key instead of an RNG — same
  // per-row independence, reproducible across runs/engines/topologies
  // (and therefore oracle-exact; the actual sampling OPERATOR is
  // exercised by q_sample_tablesample below). l_linenumber is 1..7, so
  // orderkey*7+linenumber is collision-free. The key is reduced modulo a
  // ~1e8 prime BEFORE the Knuth multiply so the product provably fits
  // int64 at any SF (raw orderkey*2654435761 overflows past orderkey
  // ~4.9e8, i.e. sf>=100, where the two engines would diverge).
  q("q_sample_bernoulli",
    """SELECT * FROM lineitem
      |WHERE ((l_orderkey * 7 + l_linenumber) % 100000007 * 2654435761)
      |      % 4294967296 % 100 < 10""")

  // Spark's OWN sampling operator (SampleExec over a seeded
  // XORShiftRandom): rows-only per contract — the kept set is
  // RNG-algorithm-specific so no cross-engine oracle exists, but the
  // REPEATABLE seed pins it run-over-run and the spec asserts the rate.
  qRowsOnly("q_sample_tablesample") { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql("""SELECT l_orderkey, l_linenumber FROM lineitem
            |TABLESAMPLE (10 PERCENT) REPEATABLE (42)""".stripMargin)
      .orderBy("l_orderkey", "l_linenumber")
  }

  // TABLESAMPLE SYSTEM (reference sample_options.hpp:18 SampleMethod::
  // SYSTEM_SAMPLE): block-level sampling — whole storage blocks are kept
  // or dropped, trading uniformity for near-zero per-row cost. The block
  // here is a contiguous l_orderkey range of 128 orders (the fixture is
  // orderkey-clustered, so a key range IS a contiguous storage slice —
  // same shape as the reference's row-group blocks), kept when its
  // deterministic Knuth multiplicative hash clears the rate: no per-row
  // RNG, one codegen'd comparison per row, embarrassingly parallel, and
  // data-derived (not partition-layout-derived) so the SAME rows are
  // kept on any cluster topology — which also makes it oracle-exact.
  built("q_sample_system",
    """SELECT * FROM lineitem
      |WHERE ((l_orderkey // 128) % 100000007 * 2654435761)
      |      % 4294967296 % 100 < 50""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter((floor(col("l_orderkey") / 128) % 100000007L * 2654435761L)
        % 4294967296L % 100 < 50)
  }

  // ---- set operations (2.7) ----------------------------------------------

  q("q_union_all",
    """SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9990
      |UNION ALL
      |SELECT s_nationkey AS nk FROM supplier
      |ORDER BY nk""")

  q("q_union_distinct",
    """SELECT c_nationkey AS nk FROM customer
      |UNION
      |SELECT s_nationkey AS nk FROM supplier
      |ORDER BY nk""")

  // UNION BY NAME (reference plan_setop.cpp:77-85)
  built("q_union_by_name",
    """SELECT n_nationkey AS k, n_name AS name FROM nation
      |UNION ALL BY NAME
      |SELECT r_name AS name, r_regionkey AS k FROM region
      |ORDER BY k, name""") { (s, dir) =>
    val a = Tables.nation(s, dir).select(col("n_nationkey").as("k"), col("n_name").as("name"))
    val b = Tables.region(s, dir).select(col("r_name").as("name"), col("r_regionkey").as("k"))
    a.unionByName(b).orderBy("k", "name")
  }

  q("q_intersect",
    """SELECT c_nationkey AS nk FROM customer
      |INTERSECT
      |SELECT s_nationkey AS nk FROM supplier
      |ORDER BY nk""")

  q("q_except",
    """SELECT c_nationkey AS nk FROM customer
      |EXCEPT
      |SELECT s_nationkey AS nk FROM supplier
      |ORDER BY nk""")

  q("q_intersect_all",
    """SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 49
      |INTERSECT ALL
      |SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.09
      |ORDER BY k""")

  q("q_except_all",
    """SELECT l_suppkey AS k FROM lineitem WHERE l_quantity > 49
      |EXCEPT ALL
      |SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.09
      |ORDER BY k""")

  // materialized CTE, referenced twice (reference physical_cte.cpp)
  q("q_cte_reuse",
    """WITH big AS (SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 300000)
      |SELECT a.o_custkey, count(*) AS n,
      |  (SELECT count(*) FROM big) AS total_big
      |FROM big a GROUP BY a.o_custkey ORDER BY a.o_custkey""")

  // recursive CTE (reference physical_recursive_cte.cpp) — driver-side
  // fixpoint loop, see graft.operators.RecursiveCTE
  built("q_recursive_cte",
    """WITH RECURSIVE t(n) AS (
      |  SELECT 1 AS n
      |  UNION ALL
      |  SELECT n + 1 FROM t WHERE n < 50
      |) SELECT n, n * n AS sq FROM t ORDER BY n""") { (s, _) =>
    import s.implicits._
    val base = Seq(1L).toDF("n")
    val result = graft.operators.RecursiveCTE.unionAllFixpoint(
      base,
      frontier => frontier.filter(col("n") < 50).select((col("n") + 1).as("n")))
    result.withColumn("sq", col("n") * col("n")).orderBy("n")
  }

  // skewed join: events' power-law user activity joined to a per-user
  // dimension. AQE's skew-join handling splits hot partitions at runtime.
  q("q_skew_join",
    """WITH d AS (SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id)
      |SELECT e.user_id, count(*) AS n_events, min(d.user_total) AS user_total
      |FROM events e JOIN d ON e.user_id = d.user_id
      |GROUP BY e.user_id ORDER BY e.user_id""")

  // limited DISTINCT (reference physical_limit + distinct early-out):
  // dedup feeds a top-N directly — TakeOrderedAndProject over the hash
  // aggregate, never a full sort of the distinct set.
  q("q_distinct_limit",
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus LIMIT 3""")

  // repeat / repeat_row table fns (reference src/function/table/repeat.cpp):
  // scalar string repeat + row multiplication via a range cross join.
  built("q_repeat",
    """SELECT r_regionkey, copy_i, repeat(r_name, 2) AS doubled
      |FROM region CROSS JOIN (SELECT range AS copy_i FROM range(3))
      |ORDER BY r_regionkey, copy_i""") { (s, dir) =>
    Tables.region(s, dir)
      .crossJoin(s.range(3).toDF("copy_i"))
      .select(col("r_regionkey"), col("copy_i"),
        repeat(col("r_name"), 2).as("doubled"))
      .orderBy("r_regionkey", "copy_i")
  }

  // WITH RECURSIVE through the NATIVE SQL surface (Spark 4's UnionLoop):
  // users writing SQL text get the built-in executor. Kept separate from
  // q_recursive_cte, whose driver-compiled fixpoint measures ~2× faster
  // for small-frontier recursions (the native loop pays per-iteration job
  // scheduling) — see operators/RecursiveCTE.scala.
  private val recSqlText =
    """WITH RECURSIVE t(n) AS (
      |  SELECT CAST(1 AS BIGINT) AS n
      |  UNION ALL
      |  SELECT n + 1 FROM t WHERE n < 100
      |) SELECT n, n * (n + 1) / 2 AS tri FROM t ORDER BY n""".stripMargin
  q("q_recursive_sql", recSqlText)

  // recursive CTE USING KEY (the reference's keyed recursion: per-key
  // upsert state the recursive part can read) — shortest path over a
  // CYCLIC graph, which plain UNION ALL recursion cannot terminate on
  // without a bound. The oracle (DuckDB 1.0 predates USING KEY) spells
  // the same answer as a depth-bounded path enumeration + min.
  built("q_recursive_key",
    """WITH RECURSIVE edges(src, dst, w) AS (
      |  SELECT * FROM (VALUES (1,2,1),(2,3,1),(3,1,1),(1,3,5),(3,4,2),(4,5,1),(2,5,7)) t(src,dst,w)
      |), paths(node, dist) AS (
      |  SELECT 1, 0
      |  UNION ALL
      |  SELECT e.dst, p.dist + e.w FROM paths p JOIN edges e ON e.src = p.node
      |  WHERE p.dist + e.w <= 10
      |)
      |SELECT node, min(dist) AS dist FROM paths GROUP BY node ORDER BY node""") { (s, _) =>
    import s.implicits._
    val edges = Seq((1, 2, 1), (2, 3, 1), (3, 1, 1), (1, 3, 5), (3, 4, 2), (4, 5, 1), (2, 5, 7))
      .toDF("src", "dst", "w")
    val base = Seq((1, 0)).toDF("node", "dist")
    graft.operators.RecursiveCTE.keyedFixpoint(base, (frontier, state) => {
      val cand = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
      cand.join(state.select(col("node").as("sn"), col("dist").as("sd")),
          col("node") === col("sn"), "left")
        .filter(col("sd").isNull || col("dist") < col("sd"))
        .select("node", "dist")
    }, Seq("node")).orderBy("node")
  }

  // positional join (reference physical_positional_join.cpp)
  built("q_join_positional",
    """SELECT a.r_name, b.n_name
      |FROM (SELECT r_name FROM region ORDER BY r_regionkey) a
      |POSITIONAL JOIN (SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 5) b
      |ORDER BY r_name, n_name""") { (s, dir) =>
    val a = Tables.region(s, dir).orderBy("r_regionkey").select("r_name")
    val b = Tables.nation(s, dir).orderBy("n_nationkey").limit(5).select("n_name")
    graft.operators.PositionalJoin(a, b).orderBy("r_name", "n_name")
  }

  // AS-OF join (reference physical_asof_join.cpp) — for each 'view' event,
  // the latest preceding 'click' of the same user.
  built("q_join_asof",
    """WITH clicks AS (
      |  SELECT user_id, ts, max(value) AS click_value
      |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
      |), views AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
      |)
      |SELECT v.event_id, v.user_id, c.click_value
      |FROM views v ASOF LEFT JOIN clicks c
      |  ON v.user_id = c.user_id AND v.ts >= c.ts
      |ORDER BY v.event_id""") { (s, dir) =>
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("value").as("click_value"))
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    graft.operators.AsOfJoin
      .backwardAuto(views, clicks, "user_id", "ts", "ts", Seq("click_value"))
      .select("event_id", "user_id", "click_value")
      .orderBy("event_id")
  }
}
