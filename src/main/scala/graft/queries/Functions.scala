package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.engine.{Sql, Tables}

/** Scalar-function surface (SURVEY §2.8): string, similarity, math,
  * date/time, json, list/lambda, struct/map, regex, hash, conditional/cast
  * families — each family one oracle-checked query. DuckDB-name → Spark-name
  * mappings follow the SURVEY §2.8 table; genuinely missing functions are
  * graft custom expressions (vector math, similarity metrics, gcd/lcm).
  */
object Functions extends Pack {

  // ---- strings (reference src/function/scalar/string/, ext core_functions) --
  q("q_fn_string",
    """SELECT p_partkey,
      |  upper(p_name) AS up, lower(p_brand) AS lo,
      |  substring(p_name, 3, 8) AS sub,
      |  replace(p_name, 'a', '@') AS repl,
      |  reverse(p_brand) AS rev,
      |  left(p_name, 4) AS l4, right(p_name, 4) AS r4,
      |  lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '*') AS rp,
      |  trim('  ' || p_brand || ' ') AS tr,
      |  repeat(p_brand, 2) AS rep,
      |  strpos(p_name, 'e') AS pos,
      |  ascii(p_name) AS asc_first,
      |  length(p_name) AS len,
      |  concat_ws('|', p_brand, p_type) AS cw,
      |  starts_with(p_name, 'a') AS sw,
      |  contains(p_name, 'ol') AS ct,
      |  translate(p_brand, 'aeiou', '12345') AS tl
      |FROM part ORDER BY p_partkey""")

  // ---- similarity metrics (reference jaccard/jaro_winkler/damerau/hamming) --
  q("q_fn_similarity",
    """SELECT doc_id,
      |  levenshtein(source, lang) AS lev,
      |  round(jaro_winkler_similarity(source, lang), 6) AS jw,
      |  CAST(damerau_levenshtein(substr(text, 1, 12), substr(text, 13, 12)) AS BIGINT) AS dl,
      |  round(jaccard(substr(text, 1, 12), substr(text, 13, 12)), 6) AS jac,
      |  CAST(hamming(substr(text, 1, 8), substr(text, 9, 8)) AS BIGINT) AS ham
      |FROM documents WHERE length(text) >= 24 ORDER BY doc_id""")

  // ---- reference-name scalar surface (SQL spellings pinned by the imported
  // sqllogictest corpus; here additionally oracle-gated through the driver) --
  // chr/unicode are full-Unicode codepoint functions (reference chr.cpp,
  // unicode.cpp — Spark's builtin chr is ASCII-mod-256, shadowed by the
  // Registry); to_base/to_hex/prefix/suffix/mismatches/editdist3/
  // parse_formatted_bytes per function_list.cpp. Both sides run the same
  // SQL names through the graft registry resp. DuckDB builtins.
  q("q_fn_string3",
    """SELECT p_partkey,
      |  chr(CAST(35 + p_partkey % 90 AS INTEGER)) AS ch_ascii,
      |  chr(CAST(945 + p_partkey % 25 AS INTEGER)) AS ch_greek,
      |  CAST(unicode(p_name) AS BIGINT) AS uc,
      |  CAST(ord(p_brand) AS BIGINT) AS oc,
      |  to_base(p_partkey, 16) AS b16,
      |  to_base(p_partkey, 2, 12) AS b2,
      |  to_hex(p_partkey + 255) AS th,
      |  prefix(p_name, 'a') AS pre,
      |  suffix(p_name, 'e') AS suf,
      |  CAST(mismatches(substr(p_name, 1, 6), substr(p_name, 3, 6)) AS BIGINT) AS mm,
      |  round(jaccard(p_name, p_brand), 6) AS jac,
      |  CAST(editdist3(p_brand, p_type) AS BIGINT) AS ed
      |FROM part WHERE p_partkey <= 500 AND length(p_name) >= 8
      |ORDER BY p_partkey""")

  // ---- math (reference scalar/math) ---------------------------------------
  built("q_fn_math",
    """SELECT l_orderkey, l_linenumber,
      |  abs(l_quantity - 25) AS a,
      |  CAST(ceil(l_discount * 100) AS BIGINT) AS c, CAST(floor(l_tax * 100) AS BIGINT) AS f,
      |  round(l_extendedprice, -2) AS r,
      |  round(exp(l_discount), 9) AS ex,
      |  round(ln(l_quantity), 9) AS lnx,
      |  round(log10(l_extendedprice), 9) AS lg10,
      |  round(log2(l_quantity), 9) AS lg2,
      |  round(sqrt(l_quantity), 9) AS sq,
      |  round(cbrt(l_quantity), 9) AS cb,
      |  round(pow(l_quantity, 2), 6) AS p2,
      |  round(sin(l_discount), 9) AS sn,
      |  round(atan2(l_discount, l_tax + 0.01), 9) AS at2,
      |  CAST(sign(l_quantity - 25) AS BIGINT) AS sg,
      |  gcd(l_orderkey, l_suppkey + 1) AS g,
      |  lcm(l_linenumber, 6) AS lc,
      |  CAST(factorial(l_linenumber) AS BIGINT) AS fac,
      |  round(pi(), 9) AS pival,
      |  round(degrees(l_discount), 9) AS dg,
      |  round(radians(l_quantity), 9) AS rd,
      |  isnan(l_quantity) AS nn,
      |  isfinite(l_extendedprice) AS fin,
      |  isfinite(CASE WHEN l_linenumber = 1 THEN CAST('inf' AS DOUBLE)
      |                WHEN l_linenumber = 2 THEN CAST('nan' AS DOUBLE)
      |                ELSE l_extendedprice END) AS fin_edge,
      |  isinf(CASE WHEN l_linenumber = 1 THEN CAST('-inf' AS DOUBLE)
      |             ELSE l_extendedprice END) AS inf_edge
      |FROM lineitem WHERE l_orderkey < 500 ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    graft.engine.EngineSession.configure(s)
    Tables.lineitem(s, dir).filter(col("l_orderkey") < 500).select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_quantity") - 25).as("a"),
        ceil(col("l_discount") * 100).as("c"), floor(col("l_tax") * 100).as("f"),
        round(col("l_extendedprice"), -2).as("r"),
        round(exp(col("l_discount")), 9).as("ex"),
        round(log(col("l_quantity")), 9).as("lnx"),
        round(log10(col("l_extendedprice")), 9).as("lg10"),
        round(log2(col("l_quantity")), 9).as("lg2"),
        round(sqrt(col("l_quantity")), 9).as("sq"),
        round(cbrt(col("l_quantity")), 9).as("cb"),
        round(pow(col("l_quantity"), 2), 6).as("p2"),
        round(sin(col("l_discount")), 9).as("sn"),
        round(atan2(col("l_discount"), col("l_tax") + 0.01), 9).as("at2"),
        signum(col("l_quantity") - 25).cast("bigint").as("sg"),
        expr("gcd(l_orderkey, l_suppkey + 1)").as("g"),
        expr("lcm(CAST(l_linenumber AS BIGINT), 6L)").as("lc"),
        // graft factorial is DECIMAL(38,0) (reference HUGEINT range); the
        // oracle casts to BIGINT, so mirror it
        factorial(col("l_linenumber")).cast("long").as("fac"),
        round(lit(math.Pi), 9).as("pival"),
        round(degrees(col("l_discount")), 9).as("dg"),
        round(radians(col("l_quantity")), 9).as("rd"),
        isnan(col("l_quantity")).as("nn"),
        finite(col("l_extendedprice")).as("fin"),
        finite(when(col("l_linenumber") === 1, lit(Double.PositiveInfinity))
          .when(col("l_linenumber") === 2, lit(Double.NaN))
          .otherwise(col("l_extendedprice"))).as("fin_edge"),
        infinite(when(col("l_linenumber") === 1, lit(Double.NegativeInfinity))
          .otherwise(col("l_extendedprice"))).as("inf_edge"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Real finiteness predicates (reference scalar/math isfinite/isinf).
    * NaN is guarded first: Spark SQL's comparison semantics treat
    * NaN = NaN as true, so a bare abs(c) != inf would misclassify NaN.
    */
  private def finite(c: Column): Column =
    !isnan(c) && abs(c) =!= lit(Double.PositiveInfinity)
  private def infinite(c: Column): Column =
    !isnan(c) && abs(c) === lit(Double.PositiveInfinity)

  // ---- date/time (reference scalar/date, icu ext) --------------------------
  built("q_fn_datetime",
    """SELECT o_orderkey,
      |  year(o_orderdate) AS y, quarter(o_orderdate) AS q,
      |  month(o_orderdate) AS mo, day(o_orderdate) AS d,
      |  date_part('dow', o_orderdate) AS dow,
      |  date_part('doy', o_orderdate) AS doy,
      |  week(o_orderdate) AS wk,
      |  date_trunc('month', o_orderdate) AS mstart,
      |  last_day(CAST(o_orderdate AS DATE)) AS eom,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS ep,
      |  strftime(o_orderdate, '%Y-%m-%d') AS fmt,
      |  o_orderdate + INTERVAL 3 DAY AS plus3d,
      |  date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since,
      |  make_date(2020, 7, CAST(day(o_orderdate) AS INTEGER)) AS md,
      |  time_bucket(INTERVAL '15 minutes', o_orderdate) AS bucket15
      |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""") { (s, dir) =>
    Tables.orders(s, dir).filter(col("o_orderkey") < 500).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"), quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("mo"), dayofmonth(col("o_orderdate")).as("d"),
        dayofweek(col("o_orderdate")).as("dow"), // registry dayofweek = duck 0-based
        dayofyear(col("o_orderdate")).as("doy"),
        weekofyear(col("o_orderdate")).as("wk"),
        date_trunc("month", col("o_orderdate")).as("mstart"),
        last_day(col("o_orderdate").cast("date")).as("eom"),
        unix_timestamp(col("o_orderdate")).as("ep"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt"),
        (col("o_orderdate") + expr("INTERVAL 3 DAY")).as("plus3d"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("bigint").as("days_since"),
        make_date(lit(2020), lit(7), dayofmonth(col("o_orderdate"))).as("md"),
        timestamp_seconds(floor(unix_timestamp(col("o_orderdate")) / 900) * 900)
          .as("bucket15"))
      .orderBy("o_orderkey")
  }

  // date-part long tail (reference date_part.cpp / strftime.cpp), added
  // round 7 with the imported date/time corpus: both sides run the SAME
  // SQL names — graft registers decade/century/millennium/isodow/
  // yearweek/to_* interval constructors/strftime/strptime (Registry),
  // DuckDB has them natively. Interval results are materialized as
  // dates (parquet can't carry INTERVAL columns).
  q("q_fn_datetime2",
    """SELECT o_orderkey,
      |  CAST(decade(o_orderdate) AS BIGINT) AS dec_,
      |  CAST(century(o_orderdate) AS BIGINT) AS cent,
      |  CAST(millennium(o_orderdate) AS BIGINT) AS mil,
      |  CAST(epoch(o_orderdate) AS BIGINT) AS ep,
      |  CAST(isodow(o_orderdate) AS BIGINT) AS idow,
      |  CAST(yearweek(o_orderdate) AS BIGINT) AS yw,
      |  strftime(o_orderdate, '%Y/%m/%d %a') AS fmt,
      |  CAST(o_orderdate + to_years(2) AS DATE) AS plus2y,
      |  CAST(o_orderdate + to_months(7) AS DATE) AS plus7mo,
      |  CAST(o_orderdate + to_days(45) AS DATE) AS plus45d,
      |  CAST(o_orderdate + to_weeks(3) AS DATE) AS plus3w,
      |  CAST(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS DATE) AS roundtrip
      |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""")

  // ---- json (reference extension/json) -------------------------------------
  // even (round away from zero to the next even integer) + nextafter
  // (IEEE-754 step toward) — the last §2.8 math-family gaps
  // (reference extension/core_functions/scalar/math/numeric.cpp)
  q("q_fn_math2",
    """SELECT o_orderkey,
      |  even(o_totalprice / 1000.0) AS ev,
      |  even(-o_totalprice / 1000.0) AS ev_neg,
      |  nextafter(o_totalprice, 0.0) AS toward_zero,
      |  nextafter(o_totalprice, 1e9) AS toward_inf
      |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""")

  // json_merge_patch (RFC 7386, custom expression — deletion via null,
  // recursive object merge) + json_transform ↔ Spark's native from_json
  // (reference extension/json/json_functions/{json_merge_patch,json_transform}.cpp)
  // The transform output is projected to its scalar field (typed_k): the
  // driver's pandas comparator sorts cell values and cannot hash a dict, so
  // a raw struct column can never be oracle-green even when values agree.
  built("q_fn_json2",
    """SELECT event_id,
      |  json_merge_patch(CAST(props AS VARCHAR),
      |    CAST('{"extra": 7, "nested": {"a": 1}, "k": null}' AS VARCHAR)) AS patched,
      |  (json_transform(props, '{"k":"BIGINT"}')).k AS typed_k
      |FROM events WHERE event_id < 100 ORDER BY event_id""") { (s, dir) =>
    Tables.events(s, dir).filter(col("event_id") < 100)
      .select(col("event_id"),
        expr("""json_merge_patch(props, '{"extra": 7, "nested": {"a": 1}, "k": null}')""")
          .as("patched"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))("k").as("typed_k"))
      .orderBy("event_id")
  }

  q("q_fn_json",
    """SELECT event_id,
      |  json_extract_string(props, '$.k') AS k_str,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_int,
      |  json_valid(props) AS ok,
      |  json_array_length('[1,2,3]') AS alen,
      |  json_extract_string('{"a":{"b":"deep"}}', '$.a.b') AS nested
      |FROM events WHERE event_id < 200 ORDER BY event_id""")

  // JSON long tail: json_keys (Spark native json_object_keys; path form
  // composes through get_json_object) and json_structure (custom
  // expression mirroring the reference's merge-based inference —
  // extension/json/json_functions/json_structure.cpp: numeric promotion
  // DOUBLE > HUGEINT > BIGINT, NULL absorbs,
  // irreconcilable → "JSON"). Key lists join to strings because the
  // driver's comparator can't hash list cells. json_pretty has no DuckDB
  // 1.0 oracle (added later); its yyjson format is pinned by
  // ExpressionsSpec and its parse-identity is asserted here.
  q("q_fn_json3",
    """SELECT event_id,
      |  array_to_string(json_keys(props), ',') AS pkeys,
      |  json_structure(props) AS pstruct,
      |  array_to_string(json_keys('{"b":1,"a":{"x":2,"y":[3]},"c":null}'), ',') AS lkeys,
      |  array_to_string(json_keys('{"b":1,"a":{"x":2,"y":[3]}}', '$.a'), ',') AS akeys,
      |  json_structure('[{"a":1,"b":[1.5]},{"a":-2,"c":"s"},{"b":[2],"a":null}]') AS lstruct,
      |  json_structure('[{"u":1},{"u":18446744073709551615},{"u":-1}]') AS hstruct,
      |  true AS pretty_ok
      |FROM events WHERE event_id < 100 ORDER BY event_id""")

  // JSON path wildcards (json_common.cpp GetWildcardPathInternal):
  // `$.*` / `$[*]` paths return a LIST of every match; serialized with
  // array_to_string for the row-sorting comparator. The recursive
  // `$.**` / `$..key` forms postdate the DuckDB-1.0 oracle and are
  // pinned by JsonWildcardSpec instead.
  built("q_fn_json5",
    """SELECT event_id,
      |  array_to_string(json_extract(props, '$.*'), ',') AS prop_vals,
      |  array_to_string(json_extract(
      |    '[{"a":' || CAST(event_id % 7 AS VARCHAR) || '},{"a":2,"b":3},{"c":4}]',
      |    '$[*].a'), ',') AS a_list,
      |  array_to_string(json_extract_string(
      |    '{"x":{"v":"p"},"y":{"v":"q"},"z":5}', '$.*.v'), ',') AS star_v,
      |  len(json_extract('{"a":[1,2],"b":[],"c":[3]}', '$.*[0]')) AS n_firsts
      |FROM events WHERE event_id < 200 ORDER BY event_id""") { (s, dir) =>
    Tables.events(s, dir).filter(col("event_id") < 200)
      .select(
        col("event_id"),
        array_join(expr("json_extract(props, '$.*')"), ",").as("prop_vals"),
        array_join(expr(
          """json_extract('[{"a":' || CAST(event_id % 7 AS STRING) ||
             '},{"a":2,"b":3},{"c":4}]', '$[*].a')"""), ",").as("a_list"),
        array_join(expr(
          """json_extract_string('{"x":{"v":"p"},"y":{"v":"q"},"z":5}',
             '$.*.v')"""), ",").as("star_v"),
        size(expr("""json_extract('{"a":[1,2],"b":[],"c":[3]}', '$.*[0]')"""))
          .cast("bigint").as("n_firsts"))
      .orderBy("event_id")
  }

  // json_transform: the structure template lowers to Catalyst from_json
  // at analysis (functions/JsonSql.scala; reference
  // extension/json/json_functions/json_transform.cpp). The oracle row
  // projects SCALAR fields out of the struct/list results (the driver's
  // row-sorting compare can't order struct/array cells — it sorts in
  // pandas, where dict/list are unhashable); the full nested shapes are
  // pinned by ExpressionsSpec.
  // json_serialize_sql emits the ENGINE-NATIVE plan AST (ours:
  // Catalyst TreeNode.toJSON) so its bytes are engine-specific —
  // round-trip + error-document behavior is pinned by ExpressionsSpec,
  // and the oracle-exact row here checks the parts both engines agree
  // on (deserialize∘serialize identity, error flag).
  built("q_fn_json4",
    """SELECT event_id,
      |  json_transform(props, '{"k": "BIGINT"}').k AS tk,
      |  json_transform(props, '{"k": "VARCHAR"}').k AS tks,
      |  json_transform('{"a": 1, "b": [1, 2], "s": {"x": "y"}}',
      |    '{"a": "DOUBLE", "b": ["BIGINT"], "s": {"x": "VARCHAR"}}').a AS tn_a,
      |  json_transform('{"a": 1, "b": [1, 2], "s": {"x": "y"}}',
      |    '{"a": "DOUBLE", "b": ["BIGINT"], "s": {"x": "VARCHAR"}}').b[2] AS tn_b2,
      |  json_transform('{"a": 1, "b": [1, 2], "s": {"x": "y"}}',
      |    '{"a": "DOUBLE", "b": ["BIGINT"], "s": {"x": "VARCHAR"}}').s.x AS tn_sx,
      |  array_to_string(json_transform('[1, 2, 3]', '["INTEGER"]'), ',') AS tlist
      |FROM events WHERE event_id < 100 ORDER BY event_id""") { (s, dir) =>
    val tnest = expr(
      """json_transform('{"a": 1, "b": [1, 2], "s": {"x": "y"}}',
         '{"a": "DOUBLE", "b": ["BIGINT"], "s": {"x": "VARCHAR"}}')""")
    Tables.events(s, dir).filter(col("event_id") < 100)
      .select(
        col("event_id"),
        expr("""json_transform(props, '{"k": "BIGINT"}')""")
          .getField("k").as("tk"),
        expr("""json_transform(props, '{"k": "VARCHAR"}')""")
          .getField("k").as("tks"),
        tnest.getField("a").as("tn_a"),
        element_at(tnest.getField("b"), 2).as("tn_b2"),
        tnest.getField("s").getField("x").as("tn_sx"),
        array_join(
          expr("""json_transform('[1, 2, 3]', '["INTEGER"]')""")
            .cast("array<string>"), ",").as("tlist"))
      .orderBy("event_id")
  }

  // ---- list / lambda (reference scalar/list, lambda_functions.cpp) --------
  // Array-valued outputs are serialized to canonical strings (scaled-BIGINT
  // mantissas joined by ','): the driver's row-sorting checker can't order
  // array cells, and float→string formatting differs across engines while
  // round(x·1e5)→BIGINT is bit-identical (float→double cast is exact, both
  // engines round halves away from zero).
  built("q_fn_list",
    """SELECT vec_id,
      |  len(embedding) AS n,
      |  embedding[1] AS first_el,
      |  array_to_string(list_transform(array_slice(embedding, 1, 3),
      |    x -> CAST(CAST(round(CAST(x AS DOUBLE) * 100000) AS BIGINT) AS VARCHAR)), ',') AS first3,
      |  list_sort(array_slice(embedding, 1, 4))[1] AS min4,
      |  round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum'), 5) AS total,
      |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
      |  array_to_string(list_transform(array_slice(embedding, 1, 3),
      |    x -> CAST(CAST(round(CAST(x AS DOUBLE) * 2 * 100000) AS BIGINT) AS VARCHAR)), ',') AS doubled,
      |  list_contains(embedding, embedding[2]) AS has2nd,
      |  array_to_string(list_transform(flatten([array_slice(embedding, 1, 2), array_slice(embedding, 3, 4)]),
      |    x -> CAST(CAST(round(CAST(x AS DOUBLE) * 100000) AS BIGINT) AS VARCHAR)), ',') AS flat4,
      |  array_to_string(list_grade_up(array_slice(embedding, 1, 5)), ',') AS grade5,
      |  round(-list_inner_product(CAST(embedding AS DOUBLE[]),
      |                            CAST(embedding AS DOUBLE[])), 5) AS negdot
      |FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""") { (s, dir) =>
    val mant: Column => Column =
      x => round(x.cast("double") * 100000).cast("bigint").cast("string")
    Tables.embeddings(s, dir).filter(col("vec_id") < 100).select(
        col("vec_id"),
        size(col("embedding")).cast("bigint").as("n"),
        element_at(col("embedding"), 1).as("first_el"),
        array_join(transform(slice(col("embedding"), 1, 3), mant), ",").as("first3"),
        element_at(array_sort(slice(col("embedding"), 1, 4)), 1).as("min4"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double")), 5).as("total"),
        size(filter(col("embedding"), _ > 0)).cast("bigint").as("n_pos"),
        array_join(transform(slice(col("embedding"), 1, 3),
          x => round(x.cast("double") * 2 * 100000).cast("bigint").cast("string")), ",")
          .as("doubled"),
        array_contains(col("embedding"), element_at(col("embedding"), 2)).as("has2nd"),
        array_join(transform(
          flatten(array(slice(col("embedding"), 1, 2), slice(col("embedding"), 3, 2))),
          mant), ",").as("flat4"),
        array_join(transform(expr("list_grade_up(slice(embedding, 1, 5))"),
          _.cast("string")), ",").as("grade5"),
        round(expr("list_negative_inner_product(embedding, embedding)"), 5)
          .as("negdot"))
      .orderBy("vec_id")
  }

  // ---- vector math (reference list_cosine_similarity / list_distance /
  //      list_inner_product — graft codegen'd expressions) ------------------
  built("q_fn_vector",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) AS cos_sim,
      |  round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) AS dot,
      |  round(list_distance(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 5) AS l2
      |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      |WHERE a.vec_id < 50 ORDER BY id_a""") { (s, dir) =>
    import graft.functions.VectorFunctions._
    val e = Tables.embeddings(s, dir)
    val a = e.filter(col("vec_id") < 50).select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        round(vec_cosine(col("ea"), col("eb")), 5).as("cos_sim"),
        round(vec_dot(col("ea"), col("eb")), 5).as("dot"),
        round(vec_l2(col("ea"), col("eb")), 5).as("l2"))
      .orderBy("id_a")
  }

  // ---- struct / map (reference struct_pack/map fns) ------------------------
  built("q_fn_struct_map",
    """SELECT n_nationkey,
      |  struct_pack(k := n_nationkey, nm := n_name).nm AS s_name,
      |  struct_pack(k := n_nationkey, nm := n_name).k + 100 AS s_key,
      |  cardinality(map([n_name], [n_nationkey])) AS m_card,
      |  map_keys(map([n_name], [n_nationkey]))[1] AS m_key,
      |  map_values(map([n_name], [n_nationkey]))[1] AS m_val
      |FROM nation ORDER BY n_nationkey""") { (s, dir) =>
    Tables.nation(s, dir).select(
        col("n_nationkey"),
        struct(col("n_nationkey").as("k"), col("n_name").as("nm"))("nm").as("s_name"),
        (struct(col("n_nationkey").as("k"), col("n_name").as("nm"))("k") + 100).as("s_key"),
        size(map(col("n_name"), col("n_nationkey"))).cast("bigint").as("m_card"),
        element_at(map_keys(map(col("n_name"), col("n_nationkey"))), 1).as("m_key"),
        element_at(map_values(map(col("n_name"), col("n_nationkey"))), 1).as("m_val"))
      .orderBy("n_nationkey")
  }

  // ---- regex (reference scalar/string/regexp.cpp — RE2; Spark uses Java
  //      regex: queries stick to the common dialect subset) -----------------
  built("q_fn_regex",
    """SELECT p_partkey,
      |  regexp_matches(p_name, '[0-9]+') AS has_num,
      |  regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
      |  array_to_string(string_split_regex(p_type, '\\s+'), ',') AS parts,
      |  len(string_split_regex(p_type, '\\s+')) AS n_parts
      |FROM part ORDER BY p_partkey""") { (s, dir) =>
    Tables.part(s, dir).select(
        col("p_partkey"),
        col("p_name").rlike("[0-9]+").as("has_num"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        call_function("regexp_replace", col("p_name"), lit("[aeiou]"), lit("_"), lit("g")).as("devowel"),
        array_join(split(col("p_type"), "\\s+"), ",").as("parts"),
        size(split(col("p_type"), "\\s+")).cast("bigint").as("n_parts"))
      .orderBy("p_partkey")
  }

  // ---- hash / crypto (reference crypto fns) --------------------------------
  built("q_fn_hash",
    """SELECT doc_id,
      |  md5(text) AS m,
      |  sha256(text) AS s2,
      |  hex(substr(text, 1, 4)) AS hx,
      |  to_base64(CAST(substr(text, 1, 6) AS BLOB)) AS b64
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""") { (s, dir) =>
    Tables.documents(s, dir).filter(col("doc_id") < 100).select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("m"),
        sha2(col("text").cast("binary"), 256).as("s2"),
        hex(substring(col("text"), 1, 4).cast("binary")).as("hx"),
        base64(substring(col("text"), 1, 6).cast("binary")).as("b64"))
      .orderBy("doc_id")
  }

  // ---- conditional / cast (reference case/cast execs; DuckDB rounds on
  //      double→int cast while Spark ANSI truncates → mirrored w/ round) ----
  built("q_fn_case_cast",
    """SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid'
      |       ELSE 'high' END AS bucket,
      |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'none') AS seg,
      |  least(c_acctbal, 1000.0) AS lo,
      |  greatest(c_acctbal, 0.0) AS hi,
      |  try_cast(c_name AS DOUBLE) AS bad_cast,
      |  CAST(c_acctbal AS BIGINT) AS bal_int,
      |  CAST(c_custkey AS VARCHAR) AS key_str,
      |  CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS pos
      |FROM customer ORDER BY c_custkey""") { (s, dir) =>
    Tables.customer(s, dir).select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "neg").when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("bucket"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("none")).as("seg"),
        least(col("c_acctbal"), lit(1000.0)).as("lo"),
        greatest(col("c_acctbal"), lit(0.0)).as("hi"),
        expr("try_cast(c_name AS DOUBLE)").as("bad_cast"),
        // DuckDB double→int rounds half-to-even (C++ nearbyint); Spark ANSI
        // truncates: conformance shim = bround() before the cast
        bround(col("c_acctbal"), 0).cast("bigint").as("bal_int"),
        col("c_custkey").cast("string").as("key_str"),
        when(col("c_acctbal") > 0, 1).otherwise(0).as("pos"))
      .orderBy("c_custkey")
  }

  // ---- timezone surface (reference extension/icu/icu-timezone.cpp;
  // test/sql/timezone/test_icu_timezone.test) — `AT TIME ZONE` /
  // timezone(tz, ts) in both directions, per-row zone columns, and the
  // UTC±HH:MM offset spellings. Naive wall clocks are spelled
  // TIMESTAMP_NTZ on the Spark side (duck TIMESTAMP); instants are
  // Spark TIMESTAMP (duck TIMESTAMPTZ). Instant results compare as
  // epoch_us/unix_micros BIGINTs so neither engine's tz rendering is in
  // the hash; wall-clock results compare as naive timestamps directly.
  // The o_orderkey%24-hour sweep crosses multiple US DST transitions
  // (1992-1998), pinning the gap/overlap semantics row-by-row.
  built("q_fn_timezone",
    """SELECT o_orderkey AS k,
      |  epoch_us((CAST(o_orderdate AS TIMESTAMP) + INTERVAL (o_orderkey % 24) HOUR)
      |           AT TIME ZONE 'America/Denver') AS denver_us,
      |  ((CAST(o_orderdate AS TIMESTAMP) + INTERVAL (o_orderkey % 24) HOUR)
      |   AT TIME ZONE 'America/New_York') AT TIME ZONE 'Asia/Tokyo' AS tokyo_wall,
      |  epoch_us((CAST(o_orderdate AS TIMESTAMP) + INTERVAL (o_orderkey % 24) HOUR)
      |           AT TIME ZONE (CASE CAST(o_orderkey % 3 AS INT)
      |                         WHEN 0 THEN 'America/Phoenix'
      |                         WHEN 1 THEN 'Asia/Kolkata'
      |                         ELSE 'Asia/Tokyo' END)) AS rowtz_us,
      |  CAST(o_orderdate AS TIMESTAMPTZ) AT TIME ZONE 'America/Denver' AS inst_wall
      |FROM orders WHERE o_orderkey < 2000 ORDER BY k""") { (s, dir) =>
    Tables.registerAll(s, dir)
    graft.engine.EngineSession.configure(s)
    Sql.execute(s,
      """SELECT o_orderkey AS k,
        |  unix_micros((CAST(o_orderdate AS TIMESTAMP_NTZ)
        |               + make_interval(0,0,0,0, CAST(o_orderkey % 24 AS INT)))
        |              AT TIME ZONE 'America/Denver') AS denver_us,
        |  ((CAST(o_orderdate AS TIMESTAMP_NTZ)
        |    + make_interval(0,0,0,0, CAST(o_orderkey % 24 AS INT)))
        |   AT TIME ZONE 'America/New_York') AT TIME ZONE 'Asia/Tokyo' AS tokyo_wall,
        |  unix_micros((CAST(o_orderdate AS TIMESTAMP_NTZ)
        |               + make_interval(0,0,0,0, CAST(o_orderkey % 24 AS INT)))
        |              AT TIME ZONE (CASE CAST(o_orderkey % 3 AS INT)
        |                            WHEN 0 THEN 'America/Phoenix'
        |                            WHEN 1 THEN 'Asia/Kolkata'
        |                            ELSE 'Asia/Tokyo' END)) AS rowtz_us,
        |  CAST(o_orderdate AS TIMESTAMP) AT TIME ZONE 'America/Denver' AS inst_wall
        |FROM orders WHERE o_orderkey < 2000 ORDER BY k""".stripMargin)
  }
}
