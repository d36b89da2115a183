package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** Benchmark-suite parity pack — the reference ships h2o.ai db-benchmark
  * and ClickBench harnesses beside TPC-H/DS (`/root/reference/benchmark/
  * h2oai/`, `/root/reference/benchmark/clickbench/`). These re-create the
  * characteristic shapes of both suites on the `events` fixture:
  *
  *  - h2o groupby q1/q3-style: low-card and high-card grouped sums
  *    (one hash-agg shuffle; partial aggregation does the heavy lifting —
  *    at 100 TB the map-side combine keeps the shuffle proportional to
  *    |groups|, not |rows|)
  *  - h2o q5/q7-style: range (max-min) per group, top-2 rows per group
  *    (WindowGroupLimit prunes before the sort at scale)
  *  - h2o join-style: fact-to-dim key join (events.user_id → customer),
  *    dim broadcast
  *  - ClickBench-style: JSON property extraction + re-group, and a
  *    LIKE-filtered count-distinct scan (string-heavy predicate pushdown)
  *
  * events.value is fixed 2-decimal (TESTDATA), so sums use the exact
  * BIGINT mantissa path from Q.
  */
object Suites extends Pack {

  // ---- h2o groupby: high-cardinality key, sum + count --------------------
  q("q_h2o_sum_by_user",
    s"""SELECT user_id, ${fsumSql("value", 2)} AS v, count(*) AS n
       |FROM events GROUP BY user_id ORDER BY user_id""")

  // ---- h2o groupby: derived bucket key, mean/min/max ---------------------
  q("q_h2o_bucket_stats",
    s"""SELECT user_id % 100 AS bucket,
       |  ${favgSql("value", 2)} AS mean_v,
       |  min(value) AS min_v, max(value) AS max_v
       |FROM events GROUP BY 1 ORDER BY bucket""")

  // ---- h2o q5-style: range per low-card group ----------------------------
  q("q_h2o_range_by_type",
    """SELECT event_type, max(value) - min(value) AS value_range
      |FROM events GROUP BY event_type ORDER BY event_type""")

  // ---- h2o q7-style: top-2 rows per group (WindowGroupLimit) -------------
  q("q_h2o_top2_by_type",
    """SELECT event_type, event_id, value FROM (
      |  SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id) AS rk
      |  FROM events) WHERE rk <= 2
      |ORDER BY event_type, event_id""")

  // ---- h2o join: fact to key-matched dim (broadcast) ---------------------
  q("q_h2o_join_dim",
    s"""SELECT c_mktsegment, count(*) AS n, ${fsumSql("value", 2)} AS v
       |FROM events JOIN customer ON c_custkey = user_id
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""")

  // ---- ClickBench-style: JSON property extraction, re-group, top-k -------
  q("q_cb_json_prop_topk",
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, count(*) AS n
      |FROM events GROUP BY 1 ORDER BY n DESC, k LIMIT 25""")

  // ---- ClickBench-style: regex extraction + top-k (the URL-domain shape) -
  built("q_cb_regex_topk",
    """SELECT regexp_extract(concat('https://site', CAST(user_id % 37 AS VARCHAR),
      |    '.example.com/page/', CAST(event_id % 1000 AS VARCHAR)),
      |    '//([^/]+)/', 1) AS domain,
      |  count(*) AS hits, count(DISTINCT user_id) AS uniq
      |FROM events GROUP BY 1 ORDER BY hits DESC, domain LIMIT 20""") { (s, dir) =>
    Tables.events(s, dir)
      .select(regexp_extract(
        concat(lit("https://site"), (col("user_id") % 37).cast("string"),
          lit(".example.com/page/"), (col("event_id") % 1000).cast("string")),
        "//([^/]+)/", 1).as("domain"), col("user_id"))
      .groupBy("domain")
      .agg(count(lit(1)).as("hits"), countDistinct(col("user_id")).as("uniq"))
      .orderBy(col("hits").desc, col("domain"))
      .limit(20)
  }

  // ---- ClickBench-style: LIKE-filtered scan + count distinct -------------
  q("q_cb_like_uniq",
    """SELECT event_type, count(*) AS hits, count(DISTINCT user_id) AS uniq_users
      |FROM events WHERE props LIKE '%9%'
      |GROUP BY event_type ORDER BY event_type""")
}
