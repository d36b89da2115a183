package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** Type-surface conformance — the SURVEY §1.2 mappings for the reference's
  * types that Spark lacks natively (`/root/reference/src/include/duckdb/
  * common/types.hpp:193-258`), each exercised end-to-end against the
  * DuckDB oracle:
  *
  *  - DECIMAL(38,·)  ↔ Spark DecimalType(38,·) — exact wide arithmetic
  *  - HUGEINT        ↔ DecimalType(38,0) (128-bit integer range)
  *  - INTERVAL       ↔ timestamp arithmetic (+ INTERVAL, epoch seconds)
  *  - TIME           ↔ seconds-of-day rendered 'HH:mm:ss' (no Spark TIME)
  *  - ENUM           ↔ string + explicit definition-order collation
  *  - UNION          ↔ tagged struct {tag, member…}
  */
object Types extends Pack {

  // ---- DECIMAL(38): wide exact arithmetic through the aggregate ----------
  // (18,6)×(18,6) → (37,12), summed at (38,12), rendered (38,6): every
  // step stays in exact decimal in BOTH engines — no float on the path.
  // The final value surfaces as its canonical decimal STRING: the checker
  // compares results through pandas, where the two engines' wide-decimal
  // objects stringify differently; rendering in-engine keeps the exactness
  // claim (every digit must agree) while making the comparison bitwise.
  built("q_type_decimal38",
    """SELECT l_returnflag,
      |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) *
      |           CAST((1 - l_discount) AS DECIMAL(18,6))) AS DECIMAL(38,6))
      |    AS VARCHAR) AS rev38
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice").cast("decimal(18,6)") *
        (lit(1) - col("l_discount")).cast("decimal(18,6)"))
        .cast("decimal(38,6)").cast("string").as("rev38"))
      .orderBy("l_returnflag")
  }

  // ---- HUGEINT: sums beyond 64-bit range ---------------------------------
  // Rendered as canonical integer string for the same reason as rev38.
  built("q_type_hugeint",
    """SELECT l_returnflag,
      |  CAST(CAST(sum(CAST(l_orderkey AS HUGEINT) * 1000000) AS DECIMAL(38,0))
      |    AS VARCHAR) AS big_sum
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(sum(col("l_orderkey").cast("decimal(38,0)") * lit(1000000))
        .cast("decimal(38,0)").cast("string").as("big_sum"))
      .orderBy("l_returnflag")
  }

  // ---- INTERVAL: month addition (end-of-month clamp) + epoch seconds -----
  built("q_type_interval",
    """SELECT o_orderkey, o_orderdate + INTERVAL 3 MONTH AS due,
      |  CAST(epoch(TIMESTAMP '1996-01-01 00:00:00' - o_orderdate) AS DOUBLE) AS age_sec
      |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""") { (s, dir) =>
    Tables.orders(s, dir)
      .filter(col("o_orderkey") <= 200)
      .select(col("o_orderkey"),
        expr("o_orderdate + INTERVAL '3' MONTH").as("due"),
        ((unix_micros(ts("1996-01-01 00:00:00")) -
          unix_micros(col("o_orderdate").cast("timestamp"))) // NTZ→LTZ, UTC session
          .cast("double") / 1e6).as("age_sec"))
      .orderBy("o_orderkey")
  }

  // ---- TIME: time-of-day mapping (Spark has no TIME type) ----------------
  built("q_type_time",
    """SELECT event_id,
      |  CAST(CAST(date_trunc('second', ts) AS TIME) AS VARCHAR) AS tod
      |FROM events WHERE event_id <= 100 ORDER BY event_id""") { (s, dir) =>
    // native TimeType (spark.sql.timeType.enabled, EngineSession):
    // timestamp→TIME goes via the string form (Spark has no direct
    // TIMESTAMP→TIME cast), then renders back — exercising Spark 4.1's
    // TIME value rather than a strftime lookalike
    Tables.events(s, dir)
      .filter(col("event_id") <= 100)
      .selectExpr("event_id",
        "CAST(CAST(date_format(ts, 'HH:mm:ss') AS TIME) AS STRING) AS tod")
      .orderBy("event_id")
  }

  // ---- ENUM: definition-order collation, not lexicographic ---------------
  // The enum declares REVERSED priority order; both engines must sort by
  // member position (5-LOW first), proving the mapping carries ordering.
  built("q_type_enum",
    """SELECT o_orderpriority AS priority, count(*) AS n
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY CAST(o_orderpriority AS
      |  ENUM('5-LOW','4-NOT SPECIFIED','3-MEDIUM','2-HIGH','1-URGENT'))""") { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(expr(
        """array_position(
          |  array('5-LOW','4-NOT SPECIFIED','3-MEDIUM','2-HIGH','1-URGENT'),
          |  priority)""".stripMargin))
      .select("priority", "n")
  }

  // ---- UNION: tagged-struct mapping, tag + per-member extraction ---------
  built("q_type_union",
    """WITH u AS (
      |  SELECT event_id,
      |    CASE WHEN value > 50 THEN CAST(value AS UNION(num DOUBLE, txt VARCHAR))
      |         ELSE CAST(event_type AS UNION(num DOUBLE, txt VARCHAR)) END AS uv
      |  FROM events WHERE event_id <= 100)
      |SELECT event_id, CAST(union_tag(uv) AS VARCHAR) AS tag,
      |  union_extract(uv, 'num') AS num_val, union_extract(uv, 'txt') AS txt_val
      |FROM u ORDER BY event_id""") { (s, dir) =>
    val uv = when(col("value") > 50, struct(
        lit("num").as("tag"), col("value").as("num"),
        lit(null).cast("string").as("txt")))
      .otherwise(struct(
        lit("txt").as("tag"), lit(null).cast("double").as("num"),
        col("event_type").as("txt")))
    Tables.events(s, dir)
      .filter(col("event_id") <= 100)
      .withColumn("uv", uv)
      .select(col("event_id"), col("uv.tag").as("tag"),
        col("uv.num").as("num_val"), col("uv.txt").as("txt_val"))
      .orderBy("event_id")
  }

  // ---- VARIANT: semi-structured values as a first-class type -------------
  // Reference /root/reference/src/common/types/variant/ (VARIANT storage +
  // variant_extract/typeof); Spark 4 ships a native VariantType with
  // parse_json / variant_get / try_variant_get / is_variant_null /
  // schema_of_variant, all codegen'd — the mapping is direct, no JSON
  // fallback needed. The oracle DuckDB (1.0.0) predates VARIANT, so its
  // SQL mirrors each extraction with the JSON family (json_extract +
  // casts); schema_of_variant's rendering ('OBJECT<k: BIGINT>') is mapped
  // from json_structure via CASE — same per-row discrimination, spelled in
  // each engine's own type-name dialect. to_json(parse_json(x)) checks the
  // binary-variant roundtrip against DuckDB's json() normalizer.
  built("q_type_variant",
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_int,
      |  json_extract_string(props, '$.k') AS k_str,
      |  CAST(json_extract(props, '$.k') AS DOUBLE) AS k_dbl,
      |  CAST(json_extract(props, '$.zzz') AS BIGINT) AS missing,
      |  (json_type('null') = 'NULL') AS vnull,
      |  CAST(json_extract('{"a":{"b":[10,20,30]}}', '$.a.b[1]') AS BIGINT) AS deep,
      |  CASE WHEN json_structure(props) = '{"k":"UBIGINT"}'
      |       THEN 'OBJECT<k: BIGINT>'
      |       ELSE CAST(json_structure(props) AS VARCHAR) END AS vschema,
      |  json(props) AS roundtrip
      |FROM events WHERE event_id < 300 ORDER BY event_id""") { (s, dir) =>
    Tables.events(s, dir).filter(col("event_id") < 300)
      .select(
        col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k_int"),
        expr("variant_get(parse_json(props), '$.k', 'string')").as("k_str"),
        expr("variant_get(parse_json(props), '$.k', 'double')").as("k_dbl"),
        expr("try_variant_get(parse_json(props), '$.zzz', 'bigint')").as("missing"),
        expr("is_variant_null(parse_json('null'))").as("vnull"),
        expr("""variant_get(parse_json('{"a":{"b":[10,20,30]}}'), '$.a.b[1]', 'bigint')""")
          .as("deep"),
        expr("schema_of_variant(parse_json(props))").as("vschema"),
        to_json(expr("parse_json(props)")).as("roundtrip"))
      .orderBy("event_id")
  }
}
