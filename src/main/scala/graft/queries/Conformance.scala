package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** Conformance-gap rewrites + remaining SURVEY §2 coverage.
  *
  * Each query here is a DuckDB capability Spark lacks as a native feature,
  * re-expressed as an equivalent Spark plan (SURVEY §2.5 gaps, §2.6
  * sampling/limit variants, §2.3 IEJoin-class predicates, §2.1 whole-file
  * reads, §2.4 remaining aggregates).
  *
  * GROUPS window frames are in Windows.scala (`q_window_groups`, a
  * dense_rank() group index + RANGE frame; the reference executes them:
  * window_boundaries_state.cpp:333-367).
  */
object Conformance extends Pack {

  // ---- §2.3: IEJoin-class join (two inequality predicates) ---------------
  // Reference plans PhysicalIEJoin for >=2 inequalities
  // (plan_comparison_join.cpp:104-210, physical_iejoin.cpp). Spark has no
  // native inequality join; graft.operators.RangeJoin restores a banded
  // shuffle plan — neither side broadcasts, band-parallel NLJ — with the
  // second inequality as the in-band residual.
  built("q_join_iejoin",
    """SELECT a.s_suppkey, count(*) AS n_dominated
      |FROM supplier a JOIN supplier b
      |  ON a.s_acctbal < b.s_acctbal AND a.s_nationkey > b.s_nationkey
      |GROUP BY a.s_suppkey ORDER BY a.s_suppkey""") { (s, dir) =>
    val a = Tables.supplier(s, dir).select(
      col("s_suppkey"), col("s_acctbal"), col("s_nationkey"))
    val b = a.select(col("s_acctbal").as("b_acctbal"), col("s_nationkey").as("b_nationkey"))
    graft.operators.RangeJoin.bandedLess(
        a, "s_acctbal", b, "b_acctbal",
        residual = Some(col("s_nationkey") > col("b_nationkey")))
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_dominated"))
      .orderBy("s_suppkey")
  }

  // ---- §2.5: EXCLUDE CURRENT ROW frame rewrite ---------------------------
  // Spark windows have no EXCLUDE (reference window_expression.hpp:34);
  // for distributive aggregates it is full-frame minus the current row.
  // DECIMAL sum keeps both engines order-independent (see Q). The global
  // ORDER BY frame runs chunk-parallel (graft.operators.ChunkedWindow) —
  // a bare Window.orderBy would single-task the whole table.
  built("q_window_exclude",
    """SELECT s_suppkey,
      |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,6)))
      |    OVER (ORDER BY s_suppkey ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
      |          EXCLUDE CURRENT ROW) AS DOUBLE) AS neighbor_sum
      |FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
    graft.operators.ChunkedWindow.boundedFrame(
        Tables.supplier(s, dir), "s_suppkey", 2, 2) { w =>
      Seq((sum(col("s_acctbal").cast(S)).over(w) - col("s_acctbal").cast(S))
        .cast("double").as("neighbor_sum"))
    }.select("s_suppkey", "neighbor_sum").orderBy("s_suppkey")
  }

  // ---- §2.5: DISTINCT aggregate in a window frame ------------------------
  // Spark rejects count(DISTINCT) OVER; rewrite as the cardinality of the
  // de-duplicated collected frame (exact, frame-local memory only). Global
  // order frame → ChunkedWindow, same as q_window_exclude.
  built("q_window_distinct_count",
    """SELECT s_suppkey,
      |  count(DISTINCT s_nationkey)
      |    OVER (ORDER BY s_suppkey ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      |    AS dn
      |FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
    graft.operators.ChunkedWindow.boundedFrame(
        Tables.supplier(s, dir), "s_suppkey", 4, 0) { w =>
      Seq(size(array_distinct(collect_list(col("s_nationkey")).over(w)))
        .cast("bigint").as("dn"))
    }.select("s_suppkey", "dn").orderBy("s_suppkey")
  }

  // ---- §2.6: LIMIT PERCENT (physical_limit_percent.cpp) ------------------
  // No native percent-limit; the count is one cheap job, then the ordered
  // prefix — same two-phase plan DuckDB runs internally.
  built("q_limit_percent",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_orderkey LIMIT 1%""") { (s, dir) =>
    val o = Tables.orders(s, dir)
    val n = math.ceil(o.count() * 0.01).toInt
    o.select("o_orderkey", "o_totalprice").orderBy("o_orderkey").limit(n)
  }

  // ---- §2.6: reservoir sample (exact N; physical_reservoir_sample.cpp) ---
  // Distributed exact-N: per-partition top-N heaps over the sample key
  // (TakeOrderedAndProject) — never a full sort, never a driver collect of
  // more than N rows. The key is a deterministic Knuth multiplicative hash
  // of the row key rather than an RNG: the same uniform-selection
  // semantics, but reproducible across runs/engines/topologies (and
  // therefore oracle-exact).
  q("q_sample_reservoir",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY (o_orderkey % 100000007 * 2654435761) % 4294967296, o_orderkey
      |LIMIT 100""")

  // ---- §2.4: remaining aggregates ---------------------------------------
  // count_if / any_value / median / mad / product in one grouped pass.
  // product stays exact: integral doubles < 2^53 multiply associatively.
  q("q_agg_misc",
    """SELECT n_regionkey,
      |  CAST(count_if(n_nationkey % 2 = 0) AS BIGINT) AS n_even,
      |  any_value(n_regionkey) AS rk,
      |  median(n_nationkey) AS med,
      |  mad(n_nationkey) AS mad_v,
      |  product(CAST(n_nationkey + 1 AS DOUBLE)) AS prod
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")

  // ---- §2.8: string/unicode/path/format gaps -----------------------------
  // strip_accents + nfc_normalize are custom Catalyst expressions
  // (reference src/function/scalar/string); printf ↔ format_string uses
  // identical %-formatting; fmt-style format('{}') rewrites to concat;
  // parse_filename/dirpath/path rebuild the reference's path splitting
  // from split/filter/regexp primitives. (url_encode/uuidv7 are absent
  // from the reference build — no parity target.)
  built("q_fn_string2",
    """SELECT s_suppkey,
      |  strip_accents(s_name) AS plain,
      |  nfc_normalize(s_name) AS nfc,
      |  printf('%05d|%s|%.2f', CAST(s_suppkey AS INTEGER), s_name, s_acctbal) AS pf,
      |  format('{}-{}', s_suppkey, s_nationkey) AS fmtted,
      |  bin(s_suppkey + 5) AS b, hex(s_suppkey + 5) AS h,
      |  parse_filename(concat('/data/region_', s_nationkey, '/supplier_', s_suppkey, '.parquet')) AS fname,
      |  parse_dirpath(concat('/data/region_', s_nationkey, '/supplier_', s_suppkey, '.parquet')) AS dpath,
      |  array_to_string(parse_path(concat('/data/region_', s_nationkey, '/supplier_', s_suppkey, '.parquet')), ',') AS parts
      |FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
    val path = concat(lit("/data/region_"), col("s_nationkey"),
      lit("/supplier_"), col("s_suppkey"), lit(".parquet"))
    Tables.supplier(s, dir).select(
        col("s_suppkey"),
        expr("strip_accents(s_name)").as("plain"),
        expr("nfc_normalize(s_name)").as("nfc"),
        format_string("%05d|%s|%.2f",
          col("s_suppkey").cast("int"), col("s_name"), col("s_acctbal")).as("pf"),
        concat(col("s_suppkey"), lit("-"), col("s_nationkey")).as("fmtted"),
        bin(col("s_suppkey") + 5).as("b"), hex(col("s_suppkey") + 5).as("h"),
        element_at(split(path, "/"), -1).as("fname"),
        regexp_replace(path, "/[^/]*$", "").as("dpath"),
        array_join(concat(array(lit("/")), filter(split(path, "/"), x => x =!= "")), ",")
          .as("parts"))
      .orderBy("s_suppkey")
  }

  // ---- §2.6: case-insensitive collation ordering -------------------------
  // reference collation_binding.cpp (NOCASE) ↔ Spark 4 UTF8_LCASE
  // collation; tie-broken on the key so both engines produce one order.
  built("q_orderby_collate",
    """SELECT CASE WHEN n_nationkey % 2 = 0 THEN lower(n_name) ELSE n_name END AS mixed,
      |  n_nationkey
      |FROM nation
      |ORDER BY mixed COLLATE NOCASE, n_nationkey""") { (s, dir) =>
    Tables.nation(s, dir)
      .select(
        when(col("n_nationkey") % 2 === 0, lower(col("n_name")))
          .otherwise(col("n_name")).as("mixed"),
        col("n_nationkey"))
      .orderBy(expr("collate(mixed, 'UTF8_LCASE')"), col("n_nationkey"))
  }

  // ---- §2.6: ICU locale collations ---------------------------------------
  // reference extension/icu/collation/ registers per-locale ICU collators
  // (e.g. COLLATE de). Both engines delegate to ICU (duckdb links libicu,
  // Spark 4 ships icu4j), so tertiary-strength locale order — lowercase
  // before uppercase, accented grouped with their base letter — matches
  // exactly. Accents are synthesized in-engine (translate) so the fixture
  // needs no non-ASCII parquet data; rank() materializes the collated
  // order into a value the order-insensitive comparator can hash.
  q("q_orderby_collate_de",
    """WITH t AS (
      |  SELECT CASE WHEN n_nationkey % 3 = 0 THEN translate(n_name, 'AEOU', 'ÄÉÖÜ')
      |              WHEN n_nationkey % 3 = 1 THEN lower(n_name)
      |              ELSE n_name END AS nm,
      |         n_nationkey
      |  FROM nation)
      |SELECT nm, n_nationkey, rank() OVER (ORDER BY nm COLLATE de) AS r
      |FROM t ORDER BY n_nationkey""")

  // Accent+case-insensitive equality: Spark UNICODE_CI_AI (ICU primary
  // strength) ↔ duckdb NOACCENT.NOCASE (strip-accents then fold). Counts
  // per nation how many supplier names match the accent-mangled lowercase
  // variant of themselves — equality survives both transforms on both
  // engines, so each name matches itself exactly once.
  built("q_collate_accent_ci",
    """WITH t AS (
      |  SELECT s_suppkey, s_name,
      |         translate(lower(s_name), 'aeou', 'äéöü') AS mangled
      |  FROM supplier)
      |SELECT count(*) AS n_eq
      |FROM t WHERE s_name = mangled COLLATE NOACCENT.NOCASE""") { (s, dir) =>
    Tables.supplier(s, dir)
      .select(col("s_name"),
        translate(lower(col("s_name")), "aeou", "äéöü").as("mangled"))
      .filter(expr("collate(s_name, 'UNICODE_CI_AI') = collate(mangled, 'UNICODE_CI_AI')"))
      .agg(count(lit(1)).as("n_eq"))
  }

  // ---- §2.4: bitstring_agg ------------------------------------------------
  // reference distributive/bitstring_agg.cpp: set-bit positions over a
  // bounded int domain. Spark rebuild: '1'/'0' per domain position from
  // the collected distinct set (rendered as VARCHAR both sides).
  built("q_bitstring_agg",
    """SELECT n_regionkey, CAST(bitstring_agg(n_nationkey % 8, 0, 7) AS VARCHAR) AS bits
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""") { (s, dir) =>
    Tables.nation(s, dir)
      .groupBy("n_regionkey")
      .agg(collect_set(col("n_nationkey") % 8).as("vs"))
      .select(col("n_regionkey"),
        expr("concat_ws('', transform(sequence(0, 7), i -> CASE WHEN array_contains(vs, CAST(i AS BIGINT)) THEN '1' ELSE '0' END))")
          .as("bits"))
      .orderBy("n_regionkey")
  }

  // ---- bucketed co-located join (shuffle elimination) --------------------
  // The 100 TB fact-to-fact join strategy: both tables bucketed on the
  // join key at write time → every subsequent join on that key reads
  // co-located buckets and skips BOTH shuffles (PlanSpec asserts the
  // exchange-free join). The oracle runs the plain join — bucketing is a
  // physical layout choice, results are identical.
  built("q_bucketed_join",
    """SELECT o_orderstatus,
      |  count(*) AS n_lines,
      |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
    val (oName, lName) = bucketedPair(s, dir)
    val o = s.table(oName)
    val l = s.table(lName)
    // merge hint = the fact-to-fact shape bucketing exists for (at fixture
    // scale Spark would broadcast the small side and bypass the buckets)
    l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_lines"),
        (sum(fx(col("l_quantity"), 2)).cast("double") / 100.0).as("total_qty"))
      .orderBy("o_orderstatus")
  }

  /** One-time bucketed write of orders+lineitem on the join key (8
    * buckets), idempotent per (session, dir). Table names and paths are
    * keyed by the fixture dir so scale factors (and concurrent JVMs)
    * never collide.
    */
  def bucketedPair(s: org.apache.spark.sql.SparkSession, dir: String): (String, String) =
    synchronized {
      val key = dir.replaceAll("[^A-Za-z0-9]", "_")
      val (oName, lName) = (s"g_orders_bkt_$key", s"g_lineitem_bkt_$key")
      val marker = s"graft_bkt_$key"
      if (!s.conf.getOption(marker).contains("done")) {
        Tables.orders(s, dir).write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"/tmp/graft_warehouse/$key/orders_bkt")
          .saveAsTable(oName)
        Tables.lineitem(s, dir).write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"/tmp/graft_warehouse/$key/lineitem_bkt")
          .saveAsTable(lName)
        s.conf.set(marker, "done")
      }
      (oName, lName)
    }

  // ---- §3.2: PREPARE/EXECUTE (typed parameters) --------------------------
  // The reference's prepared statements (client_context.cpp:535-579) map
  // to Spark's named-parameter SQL: the statement is planned with
  // placeholders and executed with bound literals.
  built("q_prepared_params",
    """SELECT o_orderstatus, count(*) AS n
      |FROM orders WHERE o_totalprice > 400000 AND o_orderstatus = 'F'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders WHERE o_totalprice > :minPrice AND o_orderstatus = :status
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      Map("minPrice" -> 400000, "status" -> "F"))
  }

  // ---- §2.4: approx_top_k sketch aggregate -------------------------------
  // Space-saving Aggregator (functions/ApproxTopK.scala): bounded O(m)
  // partial state per partition instead of shuffling every distinct key.
  // Sketch contents are merge-order-dependent → rows-only; the retention
  // guarantee is spec-tested (PipelineSpec).
  qRowsOnly("q_approx_top_k") { (s, dir) =>
    val topk = graft.functions.ApproxTopK.udafFor(5)
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_suppkey").cast("string").as("sk"))
      .groupBy("l_returnflag")
      // struct-array sketch output serialized for the driver's row sorter
      .agg(to_json(topk(col("sk"))).as("top_suppliers"))
      .orderBy("l_returnflag")
  }

  // ---- §2.4: lttb downsampling (holistic, reference lttb.cpp) ------------
  // Exact selection semantics spec-tested (HolisticSpec); per-group series
  // output is an array of structs → serialized for the driver's row sorter.
  qRowsOnly("q_lttb") { (s, dir) =>
    val lttb = graft.functions.Holistic.lttb(20)
    Tables.events(s, dir)
      .filter(col("user_id") <= 3)
      .groupBy("user_id")
      .agg(to_json(lttb(
        unix_micros(col("ts").cast("timestamp")).cast("double"),
        col("value").cast("double"))).as("points_json"))
      .orderBy("user_id")
  }

  // ---- §2.4: reservoir_quantile (bounded-state approx quantile) ----------
  // O(sample) partial state per partition vs exact quantile's full shuffle;
  // approximate + arrival-order dependent (like the reference's RNG
  // reservoir) → rows-only, exactness-within-reservoir spec-tested.
  qRowsOnly("q_reservoir_quantile") { (s, dir) =>
    val rq = graft.functions.Holistic.reservoirQuantile(0.5, 64)
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(rq(col("l_quantity")).as("rq_qty"))
      .orderBy("l_returnflag")
  }

  // ---- §2.1: generate_series over timestamps (interval stepping) ---------
  built("q_range_timestamps",
    """SELECT generate_series AS ts
      |FROM generate_series(TIMESTAMP '1995-01-01', TIMESTAMP '1995-12-01', INTERVAL 1 MONTH)
      |ORDER BY ts""") { (s, _) =>
    s.sql(
      """SELECT explode(sequence(
        |  TIMESTAMP '1995-01-01', TIMESTAMP '1995-12-01', INTERVAL '1' MONTH)) AS ts
        |ORDER BY ts""".stripMargin)
  }

  // ---- §2.8: pattern-matching operator family ----------------------------
  // LIKE / ILIKE / SIMILAR TO / GLOB (reference like.cpp + glob matching):
  // ILIKE maps to Spark's ilike; SIMILAR TO's implicitly-anchored regex
  // maps to rlike with explicit anchors; GLOB's */? wildcards rewrite to
  // LIKE's %/_ (after escaping LIKE metacharacters — none in this pattern).
  built("q_fn_patterns",
    """SELECT p_partkey,
      |  p_name LIKE '%green%' AS l,
      |  p_name ILIKE '%GREEN%' AS il,
      |  p_name SIMILAR TO '.*(green|red).*' AS st,
      |  p_name GLOB '*green*' AS g
      |FROM part ORDER BY p_partkey""") { (s, dir) =>
    Tables.part(s, dir).select(
        col("p_partkey"),
        col("p_name").like("%green%").as("l"),
        col("p_name").ilike("%GREEN%").as("il"),
        col("p_name").rlike("^.*(green|red).*$").as("st"),
        col("p_name").like("%green%").as("g")) // GLOB '*green*' ≡ LIKE '%green%'
      .orderBy("p_partkey")
  }

  // ---- §2.1: whole-file reads (read_text / read_blob) --------------------
  // Engine writes a deterministic single text file then reads it whole;
  // oracle rebuilds the identical content relationally.
  built("q_read_text",
    """SELECT concat(string_agg(n_name, chr(10) ORDER BY n_nationkey), chr(10)) AS value
      |FROM nation""") { (s, dir) =>
    val out = "/tmp/graft_io/nation_text"
    Tables.nation(s, dir).orderBy("n_nationkey").select("n_name")
      .coalesce(1).write.mode("overwrite").text(out)
    s.read.option("wholetext", "true").text(out).select("value")
  }

  built("q_read_blob",
    """SELECT octet_length(CAST(concat(string_agg(n_name, chr(10) ORDER BY n_nationkey), chr(10)) AS BLOB)) AS len,
      |  md5(concat(string_agg(n_name, chr(10) ORDER BY n_nationkey), chr(10))) AS digest
      |FROM nation""") { (s, dir) =>
    val out = "/tmp/graft_io/nation_blob"
    Tables.nation(s, dir).orderBy("n_nationkey").select("n_name")
      .coalesce(1).write.mode("overwrite").text(out)
    s.read.format("binaryFile").load(out)
      .select(col("length").as("len"), md5(col("content")).as("digest"))
  }

  // Dialect sugar parity: GROUP BY ALL / ORDER BY ALL (reference binder
  // sugar, Spark 3.4+ native)
  q("q_dialect_group_all",
    """SELECT l_returnflag, l_linestatus, count(*) AS n
      |FROM lineitem GROUP BY ALL ORDER BY ALL""")

  // star-minus-columns projection: the reference spells it `* EXCLUDE
  // (…)`, Spark `* EXCEPT (…)`; the front door's dialect pass maps one to
  // the other
  q("q_select_exclude",
    """SELECT * EXCLUDE (n_regionkey) FROM nation ORDER BY n_nationkey""")
}
