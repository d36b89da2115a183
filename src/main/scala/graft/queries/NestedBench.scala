package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** jsonbench + realnest parity pack.
  *
  * The reference ships two nested-data benchmark suites beside the
  * relational ones:
  *   - `benchmark/jsonbench/` — the Bluesky VARIANT-JSON workload
  *     (5 queries: path extraction, filtered group/count-distinct,
  *     hour-of-day histogram, per-user min/max time windows)
  *   - `benchmark/realnest/micro/` — 14 nested-ops shapes
  *     (list_sort / list_transform+list_aggregate / list_filter /
  *     list_unique / array_agg / list_intersect / list_slice / map ops)
  *
  * Both are paraphrased onto the fixtures the same way the TPC-DS/LDBC
  * packs are. jsonbench derives a NESTED JSON document per event with
  * pure string arithmetic (identical in both engines → identical
  * extraction results); realnest derives per-user value lists with
  * ORDER-canonicalized aggregation (list(x ORDER BY …) ≡
  * sort_array(collect_list(x))) so list outputs are deterministic under
  * Spark's unordered shuffle.
  *
  * 100 TB shape: every jsonbench query is scan → row-local JSON build +
  * extract (codegen'd string ops, no UDF) → ONE hash-agg shuffle; every
  * realnest query is ONE groupBy-collect shuffle followed by row-local
  * lambda kernels over the built lists.
  */
object NestedBench extends Pack {

  /** Derived Bluesky-like document (reference jsonbench load.sql):
    * kind/commit{collection, operation}/did/time_us from event fields. */
  private def bluesky(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      concat(
        lit("{\"kind\":\""), col("event_type"),
        lit("\",\"commit\":{\"collection\":\"col_"),
        (col("event_id") % 5).cast("string"),
        lit("\",\"operation\":\""),
        when(col("event_id") % 3 === 0, "create").otherwise("update"),
        lit("\"},\"did\":\"user_"), col("user_id").cast("string"),
        lit("\",\"time_us\":"), unix_micros(col("ts")).cast("string"),
        lit("}")).as("j"))

  // single line: Pack.q runs stripMargin over the ASSEMBLED query, so no
  // line here may begin with a '|' (a leading "||" concat would lose its
  // first pipe)
  private val BlueskySql =
    """bluesky AS (SELECT '{"kind":"' || event_type || """ +
      """'","commit":{"collection":"col_' || CAST(event_id % 5 AS VARCHAR) || """ +
      """'","operation":"' || CASE WHEN event_id % 3 = 0 THEN 'create' ELSE 'update' END || """ +
      """'"},"did":"user_' || CAST(user_id AS VARCHAR) || """ +
      """'","time_us":' || CAST(epoch_us(ts) AS VARCHAR) || '}' AS j FROM events)"""

  private def jb(body: String): String =
    "WITH " + BlueskySql + "\n" + body.stripMargin.trim

  // jsonbench q1: events per collection (reference q01.sql)
  built("q_jb1", jb(
    """SELECT json_extract_string(j, '$.commit.collection') AS event,
      |       count(*) AS cnt
      |FROM bluesky GROUP BY event ORDER BY cnt DESC, event""")) { (s, dir) =>
    bluesky(s, dir)
      .groupBy(get_json_object(col("j"), "$.commit.collection").as("event"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("event"))
  }

  // jsonbench q2: filtered counts + user count-distinct (reference q02.sql)
  built("q_jb2", jb(
    """SELECT json_extract_string(j, '$.commit.collection') AS event,
      |       count(*) AS cnt,
      |       count(DISTINCT json_extract_string(j, '$.did')) AS users
      |FROM bluesky
      |WHERE json_extract_string(j, '$.kind') = 'click'
      |  AND json_extract_string(j, '$.commit.operation') = 'create'
      |GROUP BY event ORDER BY cnt DESC, event""")) { (s, dir) =>
    bluesky(s, dir)
      .where(get_json_object(col("j"), "$.kind") === "click" &&
        get_json_object(col("j"), "$.commit.operation") === "create")
      .groupBy(get_json_object(col("j"), "$.commit.collection").as("event"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(get_json_object(col("j"), "$.did")).as("users"))
      .orderBy(col("cnt").desc, col("event"))
  }

  // jsonbench q3: hour-of-day histogram over an IN-list of collections
  // (reference q03.sql)
  built("q_jb3", jb(
    """SELECT json_extract_string(j, '$.commit.collection') AS event,
      |       hour(to_timestamp(CAST(json_extract(j, '$.time_us') AS BIGINT) / 1000000)) AS hour_of_day,
      |       count(*) AS cnt
      |FROM bluesky
      |WHERE json_extract_string(j, '$.commit.operation') = 'create'
      |  AND json_extract_string(j, '$.commit.collection') IN ('col_1', 'col_2', 'col_3')
      |GROUP BY event, hour_of_day ORDER BY hour_of_day, event""")) { (s, dir) =>
    bluesky(s, dir)
      .where(get_json_object(col("j"), "$.commit.operation") === "create" &&
        get_json_object(col("j"), "$.commit.collection")
          .isin("col_1", "col_2", "col_3"))
      .groupBy(
        get_json_object(col("j"), "$.commit.collection").as("event"),
        hour(timestamp_seconds(
          get_json_object(col("j"), "$.time_us").cast("bigint") / 1000000))
          .cast("bigint").as("hour_of_day"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("hour_of_day"), col("event"))
  }

  // jsonbench q4: earliest activity per user, top-3 (reference q04.sql)
  built("q_jb4", jb(
    """SELECT json_extract_string(j, '$.did') AS user_id,
      |       make_timestamp(min(CAST(json_extract(j, '$.time_us') AS BIGINT))) AS first_post_date
      |FROM bluesky
      |WHERE json_extract_string(j, '$.commit.operation') = 'create'
      |  AND json_extract_string(j, '$.commit.collection') = 'col_1'
      |GROUP BY user_id ORDER BY first_post_date ASC, user_id LIMIT 3""")) { (s, dir) =>
    bluesky(s, dir)
      .where(get_json_object(col("j"), "$.commit.operation") === "create" &&
        get_json_object(col("j"), "$.commit.collection") === "col_1")
      .groupBy(get_json_object(col("j"), "$.did").as("user_id"))
      .agg(timestamp_micros(
        min(get_json_object(col("j"), "$.time_us").cast("bigint")))
        .as("first_post_date"))
      .orderBy(col("first_post_date").asc, col("user_id"))
      .limit(3)
  }

  // jsonbench q5: longest activity span per user, top-3 (reference q05.sql)
  built("q_jb5", jb(
    """SELECT json_extract_string(j, '$.did') AS user_id,
      |       (max(CAST(json_extract(j, '$.time_us') AS BIGINT))
      |        - min(CAST(json_extract(j, '$.time_us') AS BIGINT))) / 1000 AS activity_span_ms
      |FROM bluesky
      |WHERE json_extract_string(j, '$.commit.operation') = 'create'
      |  AND json_extract_string(j, '$.commit.collection') = 'col_2'
      |GROUP BY user_id ORDER BY activity_span_ms DESC, user_id LIMIT 3""")) { (s, dir) =>
    val us = get_json_object(col("j"), "$.time_us").cast("bigint")
    bluesky(s, dir)
      .where(get_json_object(col("j"), "$.commit.operation") === "create" &&
        get_json_object(col("j"), "$.commit.collection") === "col_2")
      .groupBy(get_json_object(col("j"), "$.did").as("user_id"))
      .agg(((max(us) - min(us)) / 1000).as("activity_span_ms"))
      .orderBy(col("activity_span_ms").desc, col("user_id"))
      .limit(3)
  }

  // ---------------------------------------------------------------------
  // realnest micro shapes — per-user fixed-point value lists
  // ---------------------------------------------------------------------

  /** per-user sorted list of 2-decimal mantissas (BIGINT) — duck
    * `list(v ORDER BY v, id)` ≡ Spark sort_array(collect_list(struct)). */
  private def userLists(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"),
        round(col("value") * 100).cast("bigint").as("v"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("v"))).as("vs"))

  private val UserListsSql =
    """user_lists AS (
      |  SELECT user_id, list(v ORDER BY v) AS vs
      |  FROM (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v
      |        FROM events) ev GROUP BY user_id)""".stripMargin

  private def rn(body: String): String =
    "WITH " + UserListsSql + "\n" + body.stripMargin.trim

  // realnest micro 02/04: list_sort + list_transform + list_aggregate
  // (02_list_sort.benchmark, 04_list_transform_and_list_aggregate)
  built("q_rn_transform_agg", rn(
    """SELECT user_id,
      |       CAST(list_aggregate(list_transform(vs, x -> x * 2), 'sum') AS BIGINT) AS doubled_sum,
      |       vs[1] AS smallest, vs[len(vs)] AS largest
      |FROM user_lists ORDER BY user_id""")) { (s, dir) =>
    userLists(s, dir)
      .select(col("user_id"),
        aggregate(transform(col("vs"), x => x * 2), lit(0L), (a, x) => a + x)
          .as("doubled_sum"),
        element_at(col("vs"), 1).as("smallest"),
        element_at(col("vs"), size(col("vs"))).as("largest"))
      .orderBy("user_id")
  }

  // realnest micro 05: list_filter (05_list_filter.benchmark)
  built("q_rn_filter", rn(
    """SELECT user_id, len(list_filter(vs, x -> x > 25000)) AS n_large,
      |       CAST(list_aggregate(list_filter(vs, x -> x > 25000), 'sum') AS BIGINT) AS sum_large
      |FROM user_lists ORDER BY user_id""")) { (s, dir) =>
    val large = filter(col("vs"), _ > 25000)
    userLists(s, dir)
      .select(col("user_id"), size(large).cast("bigint").as("n_large"),
        // duck's sum over an EMPTY filtered list is NULL, not 0
        when(size(large) === 0, lit(null).cast("bigint"))
          .otherwise(aggregate(large, lit(0L), (a, x) => a + x))
          .as("sum_large"))
      .orderBy("user_id")
  }

  // realnest micro 07: list_unique over a transformed list
  // (07_list_unique_on_transformed_and_aggregated_list.benchmark)
  built("q_rn_unique", rn(
    """SELECT user_id, list_unique(list_transform(vs, x -> x % 100)) AS buckets
      |FROM user_lists ORDER BY user_id""")) { (s, dir) =>
    userLists(s, dir)
      .select(col("user_id"),
        size(array_distinct(transform(col("vs"), _ % 100)))
          .cast("bigint").as("buckets"))
      .orderBy("user_id")
  }

  // realnest micro 10: list_intersect between adjacent users' bucket
  // sets (10_list_intersect_hashtags.benchmark) — a self-join on the
  // aggregated lists, intersect sizes ranked
  built("q_rn_intersect", rn(
    """SELECT a.user_id AS user_a, b.user_id AS user_b,
      |       len(list_intersect(list_distinct(list_transform(a.vs, x -> x % 50)),
      |                          list_distinct(list_transform(b.vs, x -> x % 50)))) AS shared
      |FROM user_lists a JOIN user_lists b ON b.user_id = a.user_id + 1
      |ORDER BY shared DESC, user_a LIMIT 20""")) { (s, dir) =>
    val ul = userLists(s, dir)
    val a = ul.select(col("user_id").as("user_a"),
      array_distinct(transform(col("vs"), _ % 50)).as("sa"))
    val b = ul.select(col("user_id").as("user_b"),
      array_distinct(transform(col("vs"), _ % 50)).as("sb"))
    a.join(b, col("user_b") === col("user_a") + 1)
      .select(col("user_a"), col("user_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("bigint").as("shared"))
      .orderBy(col("shared").desc, col("user_a"))
      .limit(20)
  }

  // realnest micro 14: list_slice on the sorted list
  // (14_list_slice.benchmark) — top/bottom decile extremes. The slices
  // are serialized with array_to_string/array_join so the driver's
  // pandas comparator can sort+hash them (raw list columns are
  // unhashable there) — same text in both engines.
  built("q_rn_slice", rn(
    """SELECT user_id, array_to_string(vs[1:5], ',') AS bottom5,
      |       array_to_string(vs[len(vs)-4:len(vs)], ',') AS top5
      |FROM user_lists ORDER BY user_id LIMIT 50""")) { (s, dir) =>
    userLists(s, dir)
      .select(col("user_id"),
        array_join(transform(slice(col("vs"), 1, 5), _.cast("string")),
          ",").as("bottom5"),
        array_join(transform(slice(col("vs"), size(col("vs")) - 4, lit(5)),
          _.cast("string")), ",").as("top5"))
      .orderBy("user_id")
      .limit(50)
  }

  // realnest micro 08/12: map ops — count keys / list the values
  // (08_count_map_keys, 12_map_list_values) on a derived
  // bucket→count map per user
  built("q_rn_map", rn(
    """SELECT user_id, cardinality(m) AS n_keys,
      |       CAST(list_aggregate(map_values(m), 'sum') AS BIGINT) AS total
      |FROM (SELECT user_id, map_from_entries(
      |        list_transform(list_distinct(list_transform(vs, x -> x % 10)),
      |                       k -> struct_pack(k := k, v := len(list_filter(vs, x -> x % 10 = k))))) AS m
      |      FROM user_lists) t ORDER BY user_id""")) { (s, dir) =>
    val buckets = array_distinct(transform(col("vs"), _ % 10))
    val entries = transform(buckets,
      k => struct(k.as("k"),
        size(filter(col("vs"), x => x % 10 === k)).cast("bigint").as("v")))
    userLists(s, dir)
      .select(col("user_id"), map_from_entries(entries).as("m"))
      .select(col("user_id"),
        size(map_keys(col("m"))).cast("bigint").as("n_keys"),
        aggregate(map_values(col("m")), lit(0L), (a, x) => a + x).as("total"))
      .orderBy("user_id")
  }

  final override def toString: String = "NestedBench"
}
