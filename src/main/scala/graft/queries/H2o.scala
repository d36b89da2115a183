package graft.queries

/** h2o.ai db-benchmark completion — the groupby and join questions the
  * reference ships (`/root/reference/benchmark/h2oai/group/queries/
  * q01-q10.sql`, `join/queries/q01-q05.sql`) not already covered by the
  * characteristic shapes in [[Suites]] (its q_h2o_* entries map to
  * groupby q1/q4/q7/q8 and join q1).
  *
  * The benchmark's x_group / x / small / medium / big tables are
  * derived projections of events / region / customer / orders with the
  * same key-cardinality roles (low-card strings, high-card strings,
  * small ints, near-unique ints). Derivations are arithmetic/concat
  * only, so the DuckDB oracle computes identical relations and every
  * question is gated oracle-exact. Each question is one text, a WITH
  * defining those tables and then the question, which the engine's front
  * door runs as is. Nondeterministic-across-engines
  * float aggregates follow the repo conventions: sums/avgs/medians ride
  * exact 2-decimal mantissas, stddev/corr are rounded at 1e-6 (see
  * q_stats_agg).
  *
  * 100 TB shape: groupbys are one hash shuffle with map-side partial
  * aggregation (shuffle volume ∝ |groups|); join q1 broadcasts the
  * 5-row dim, q2-q4 broadcast-or-shuffle the medium dim by stats, and
  * q5 is the fact-fact key-partitioned shuffle join.
  */
object H2o extends Pack {

  private val xgroupSql =
    "SELECT concat('id', CAST(user_id % 10 AS STRING)) AS id1, " +
      "concat('id', CAST((user_id * 7 + 3) % 10 AS STRING)) AS id2, " +
      "concat('id', CAST(event_id % 997 AS STRING)) AS id3, " +
      "(user_id % 13) AS id4, (event_id % 17) AS id5, (event_id % 997) AS id6, " +
      "(event_id % 5 + 1) AS v1, (user_id % 15 + 1) AS v2, value AS v3 " +
      "FROM events"
  private val xSql =
    "SELECT (user_id % 5) AS id1, user_id AS id2, event_id AS id3, " +
      "event_type AS id4, (event_id % 17) AS id5, " +
      "concat('w', CAST(event_id % 97 AS STRING)) AS id6, value AS v1 " +
      "FROM events"
  private val smallSql =
    "SELECT CAST(r_regionkey AS BIGINT) AS id1, r_name AS id4, " +
      "CAST(r_regionkey * 3 + 1 AS DOUBLE) AS v2 FROM region"
  private val mediumSql =
    "SELECT (c_custkey % 5) AS id1, c_custkey AS id2, c_mktsegment AS id4, " +
      "(c_custkey % 17) AS id5, c_acctbal AS v2 FROM customer"
  private val bigSql =
    "SELECT (o_orderkey % 5) AS id1, o_custkey AS id2, o_orderkey AS id3, " +
      "o_orderstatus AS id4, (o_orderkey % 17) AS id5, " +
      "concat('w', CAST(o_orderkey % 97 AS STRING)) AS id6, " +
      "o_totalprice AS v2 FROM orders"
  private val rels = Seq(
    "x_group" -> xgroupSql, "x" -> xSql, "small" -> smallSql,
    "medium" -> mediumSql, "big" -> bigSql)

  private val cte = rels.map { case (n, s) => s"$n AS ($s)" }.mkString(", ")

  /** Register one h2o question: `body` is SQL over the benchmark's table
    * names, which a WITH over the fixtures defines. */
  private def h2o(name: String)(body: String): Unit =
    q(name, s"WITH $cte\n${body.stripMargin.trim}")

  // exact 2-decimal double sum/avg (see Q.fsum; v3 = events.value)
  private def m(e: String) = s"CAST(round(($e) * 100) AS BIGINT)"
  private def msum(e: String) = s"(CAST(sum(${m(e)}) AS DOUBLE) / 100.0)"

  // ---- groupby q02: two low-card string keys -----------------------------
  h2o("q_h2o_g02")(
    """SELECT id1, id2, CAST(sum(v1) AS BIGINT) AS v1 FROM x_group
      |GROUP BY id1, id2 ORDER BY id1, id2""")

  // ---- groupby q03: high-card key, sum + mean ----------------------------
  h2o("q_h2o_g03")(
    s"""SELECT id3, CAST(sum(v1) AS BIGINT) AS v1,
       |  (${msum("v3")} / count(*)) AS v3
       |FROM x_group GROUP BY id3 ORDER BY id3""")

  // ---- groupby q05: int key, three sums ----------------------------------
  h2o("q_h2o_g05")(
    s"""SELECT id6, CAST(sum(v1) AS BIGINT) AS v1,
       |  CAST(sum(v2) AS BIGINT) AS v2, ${msum("v3")} AS v3
       |FROM x_group GROUP BY id6 ORDER BY id6""")

  // ---- groupby q06: median + sd per (id4, id5) ---------------------------
  // median rides the exact 2-decimal mantissa: both engines interpolate
  // integer middles, an exact double either way; sd rounds at 1e-6
  q("q_h2o_g06",
    s"""WITH $cte
       |SELECT id4, id5, (quantile_cont(${m("v3")}, 0.5) / 100.0) AS median_v3,
       |  round(stddev(v3), 6) AS sd_v3
       |FROM x_group GROUP BY id4, id5 ORDER BY id4, id5""")

  // ---- groupby q09: r² of (v1, v2) per (id2, id4) ------------------------
  // corr spelled explicitly with a NULLIF guard: zero-variance groups
  // yield NULL on both engines (ANSI Spark's corr would raise
  // DIVIDE_BY_ZERO; the reference's corr returns NULL)
  h2o("q_h2o_g09")(
    """SELECT id2, id4,
      |  round(pow(covar_samp(v1, v2) /
      |            NULLIF(stddev_samp(v1) * stddev_samp(v2), 0), 2), 6) AS r2
      |FROM x_group GROUP BY id2, id4 ORDER BY id2, id4""")

  // ---- groupby q10: all six keys + count ---------------------------------
  h2o("q_h2o_g10")(
    s"""SELECT id1, id2, id3, id4, id5, id6, ${msum("v3")} AS v3,
       |  CAST(count(*) AS BIGINT) AS cnt
       |FROM x_group GROUP BY id1, id2, id3, id4, id5, id6
       |ORDER BY id1, id2, id3, id4, id5, id6""")

  // ---- join q02: inner join on the medium key ----------------------------
  h2o("q_h2o_j02")(
    """SELECT x.id1, x.id2, x.id3, x.id4, x.id5, x.id6, x.v1,
      |  medium.id1 AS medium_id1, medium.id4 AS medium_id4,
      |  medium.id5 AS medium_id5, v2
      |FROM x JOIN medium USING (id2) ORDER BY x.id3""")

  // ---- join q03: left join on the medium key -----------------------------
  h2o("q_h2o_j03")(
    """SELECT x.id1, x.id2, x.id3, x.id4, x.id5, x.id6, x.v1,
      |  medium.id1 AS medium_id1, medium.id4 AS medium_id4,
      |  medium.id5 AS medium_id5, v2
      |FROM x LEFT JOIN medium USING (id2) ORDER BY x.id3""")

  // ---- join q04: join on a low-card (skewed) key -------------------------
  h2o("q_h2o_j04")(
    """SELECT x.id1, x.id2, x.id3, x.id4, x.id6, x.v1,
      |  medium.id1 AS medium_id1, medium.id2 AS medium_id2,
      |  medium.id4 AS medium_id4, v2
      |FROM x JOIN medium USING (id5) ORDER BY x.id3, medium.id2""")

  // ---- join q05: fact-to-fact join on the near-unique key ----------------
  h2o("q_h2o_j05")(
    """SELECT x.id1, x.id2, x.id4, x.id5, x.id6, x.v1,
      |  big.id1 AS big_id1, big.id2 AS big_id2, big.id4 AS big_id4,
      |  big.id5 AS big_id5, big.id6 AS big_id6, v2
      |FROM x JOIN big USING (id3) ORDER BY id3""")
}
