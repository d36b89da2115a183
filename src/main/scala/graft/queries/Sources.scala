package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** Source/sink formats and reshaping operators (SURVEY §2.1, §2.2):
  * CSV/JSON write→read round-trips (COPY TO ↔ df.write, read_csv/read_json
  * ↔ spark.read), filename/glob metadata, UNNEST, PIVOT/UNPIVOT, SUMMARIZE.
  *
  * Round-trip queries restrict themselves to string/int columns so the
  * text-format serialization is bit-stable; the oracle reads the same
  * parquet source directly.
  */
object Sources extends Pack {

  private def tmp(name: String): String = {
    val d = s"/tmp/graft_io/$name"
    d
  }

  // COPY TO csv + read_csv with header/schema inference
  // (reference src/function/table/read_csv.cpp + copy_csv.cpp)
  built("q_csv_roundtrip",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""") { (s, dir) =>
    val out = tmp("nation_csv")
    Tables.nation(s, dir)
      .select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true").option("inferSchema", "true").csv(out)
      .select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
      .orderBy("n_nationkey")
  }

  // CSV dialect sniffing: write a semicolon-delimited file, read it back
  // with NO dialect options — CsvSniffer must detect delimiter/quote/
  // header or the columns come back mangled and the hash diff fails
  // (reference csv_scanner/sniffer/dialect_detection.cpp)
  built("q_csv_sniff",
    """SELECT s_suppkey, s_name, s_acctbal FROM supplier
      |WHERE s_suppkey <= 40 ORDER BY s_suppkey""") { (s, dir) =>
    val out = tmp("supplier_sniff_csv")
    Tables.supplier(s, dir)
      .filter(col("s_suppkey") <= 40)
      .select("s_suppkey", "s_name", "s_acctbal")
      .write.mode("overwrite")
      .option("header", "true").option("sep", ";").csv(out)
    graft.sources.CsvSniffer.read(s, out)
      .select(col("s_suppkey").cast("bigint"), col("s_name"),
        col("s_acctbal").cast("double"))
      .orderBy("s_suppkey")
  }

  // COPY TO json + read_json (NDJSON) — reference extension/json/read_json.cpp
  built("q_json_roundtrip",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_custkey <= 50 ORDER BY c_custkey""") { (s, dir) =>
    val out = tmp("customer_json")
    Tables.customer(s, dir)
      .filter(col("c_custkey") <= 50)
      .select("c_custkey", "c_name", "c_mktsegment")
      .write.mode("overwrite").json(out)
    s.read.json(out)
      .select(col("c_custkey").cast("bigint"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  // CSV dialect edges: values containing the delimiter AND the quote char
  // round-trip through quoting/escaping (reference read_csv sniffer +
  // copy_csv quote handling)
  built("q_csv_quoted",
    """SELECT n_nationkey, concat(n_name, ',"', n_name, '"') AS tricky
      |FROM nation ORDER BY n_nationkey""") { (s, dir) =>
    val out = tmp("nation_quoted_csv")
    Tables.nation(s, dir)
      .select(col("n_nationkey"),
        concat(col("n_name"), lit(",\""), col("n_name"), lit("\"")).as("tricky"))
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true").option("inferSchema", "true").csv(out)
      .select(col("n_nationkey").cast("int"), col("tricky"))
      .orderBy("n_nationkey")
  }

  // nested parquet: struct-of-(string, array-of-struct) written and read
  // back, then unnested with dot access — the nested-type round trip the
  // reference covers with its parquet-testing corpus
  built("q_nested_parquet",
    """SELECT r.r_regionkey, n.n_name
      |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
      |ORDER BY r.r_regionkey, n.n_name""") { (s, dir) =>
    val out = tmp("nested_parquet")
    Tables.nation(s, dir)
      .groupBy("n_regionkey")
      .agg(sort_array(collect_list(struct(col("n_name"), col("n_nationkey")))).as("nations"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_regionkey"), struct(col("r_name"), col("nations")).as("info"))
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .select(col("r_regionkey"), explode(col("info.nations")).as("nat"))
      .select(col("r_regionkey"), col("nat.n_name").as("n_name"))
      .orderBy("r_regionkey", "n_name")
  }

  // partitioned parquet write (PhysicalCopyToFile PARTITION_BY) + partition-
  // pruned read back via hive-style discovery
  q("q_partitioned_write",
    """SELECT o_orderstatus, count(*) AS n FROM orders
      |WHERE o_orderstatus = 'F' GROUP BY o_orderstatus ORDER BY o_orderstatus""")

  // filename() / glob multi-file read (reference src/common/multi_file/)
  built("q_filename_glob",
    """SELECT CAST((SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
      |  + (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
      |  + (SELECT count(*) FROM part) + (SELECT count(*) FROM orders)
      |  + (SELECT count(*) FROM lineitem) + (SELECT count(*) FROM events)
      |  + (SELECT count(*) FROM documents) + (SELECT count(*) FROM embeddings)
      |  AS BIGINT) AS n_rows, CAST(10 AS BIGINT) AS n_files""") { (s, dir) =>
    // glob over the fixture dir; one row count + file count via metadata col
    s.read.option("mergeSchema", "true").parquet(
        Tables.names.map(n => s"$dir/$n.parquet"): _*)
      .select(input_file_name().as("path"))
      .select(element_at(split(col("path"), "/"), -1).as("fname"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("fname")).as("n_files"))
  }

  // UNNEST aligned lists (reference physical_unnest.cpp — multiple unnests
  // stay row-aligned; Spark: posexplode + element_at)
  built("q_unnest",
    """SELECT vec_id, u.pos, u.val FROM (
      |  SELECT vec_id, unnest(array_slice(embedding, 1, 4)) AS val,
      |         unnest(generate_series(1, 4)) AS pos
      |  FROM embeddings WHERE vec_id < 20) u
      |ORDER BY vec_id, pos""") { (s, dir) =>
    Tables.embeddings(s, dir)
      .filter(col("vec_id") < 20)
      .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 4)))
      .select(col("vec_id"), (col("pos") + 1).cast("bigint").as("pos"), col("col").as("val"))
      .orderBy("vec_id", "pos")
  }

  // PIVOT (reference physical_pivot.cpp + bind_pivot.cpp)
  q("q_pivot",
    s"""SELECT l_returnflag,
       |  ${dsumSql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F,
       |  ${dsumSql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")

  // Dynamic PIVOT — ON-values discovered at bind time (reference
  // bind_pivot.cpp enumerates the distinct values with a first scan;
  // Spark's valueless pivot() runs the same two-pass discovery). Missing
  // combinations: duckdb renders count 0, Spark null — na.fill aligns.
  built("q_pivot_dynamic",
    """PIVOT (SELECT year(o_orderdate) AS yr, o_orderpriority FROM orders)
      |ON o_orderpriority USING count(*) GROUP BY yr ORDER BY yr""") { (s, dir) =>
    val pv = Tables.orders(s, dir)
      .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
      .groupBy("yr")
      .pivot("o_orderpriority")
      .count()
    pv.na.fill(0, pv.columns.filterNot(_ == "yr")).orderBy("yr")
  }

  // UNPIVOT (reference bind_pivot.cpp unpivot path ↔ Spark stack())
  q("q_unpivot",
    """SELECT c_custkey, attr, val FROM (
      |  SELECT c_custkey, c_acctbal AS balance, CAST(c_nationkey AS DOUBLE) AS nation
      |  FROM customer WHERE c_custkey <= 50)
      |UNPIVOT (val FOR attr IN (balance, nation))
      |ORDER BY c_custkey, attr""")

  // SUMMARIZE-style per-column stats (reference bind_summarize.cpp)
  q("q_summarize",
    s"""SELECT 'l_quantity' AS col_name,
       |  count(*) AS n, CAST(count(DISTINCT l_quantity) AS BIGINT) AS approx_unique,
       |  min(l_quantity) AS min_v, max(l_quantity) AS max_v,
       |  ${davgSql("l_quantity")} AS avg_v
       |FROM lineitem
       |UNION ALL
       |SELECT 'l_extendedprice', count(*), CAST(count(DISTINCT l_extendedprice) AS BIGINT),
       |  min(l_extendedprice), max(l_extendedprice), ${davgSql("l_extendedprice")}
       |FROM lineitem
       |ORDER BY col_name""")

  // CREATE MACRO (reference macro_function.cpp) — registered as a native
  // Spark SQL function (inlined at analysis, codegens like the raw
  // expression). The oracle spells the macro body inline, which is exactly
  // what both engines execute after bind-time expansion.
  q("q_macro",
    """SELECT o_orderkey, o_totalprice * (1 + 5 / 100.0) AS adj
      |FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""")

  // CREATE MACRO ... AS TABLE (reference table_macro_function.cpp) — a
  // parameterized view, expanded at bind time; scalar macros inside the
  // body expand too. The oracle is the inlined query.
  q("q_table_macro",
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |WHERE o_totalprice > (20000)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""")

  // system-catalog introspection (reference src/function/table/system/*):
  // column metadata of registered tables, matched against the oracle's
  // information_schema.columns over the same fixture views.
  built("q_catalog_columns",
    """SELECT table_name, column_name, CAST(ordinal_position AS INT) AS pos
      |FROM information_schema.columns
      |WHERE table_name IN ('nation', 'region', 'supplier')
      |ORDER BY table_name, pos""") { (s, dir) =>
    Tables.registerAll(s, dir)
    import s.implicits._
    Seq("nation", "region", "supplier").flatMap { t =>
      s.catalog.listColumns(t).collect().zipWithIndex.map {
        case (c, i) => (t, c.name, i + 1)
      }
    }.toDF("table_name", "column_name", "pos")
  }

  // CREATE SEQUENCE + nextval over an ordered single-partition series —
  // the reference's exact counter protocol (START/INCREMENT/currval;
  // sequence_catalog_entry.cpp), oracle'd against the closed form the
  // protocol guarantees. Single partition + in-partition sort pin the
  // hand-out order (nextval is stateful); CREATE OR REPLACE resets the
  // counter at query construction so the row is hermetic per run.
  built("q_sequence",
    """SELECT CAST(i AS BIGINT) AS n,
      |  CAST(100 + (i - 1) * 3 AS BIGINT) AS seq_val,
      |  CAST(100 + (i - 1) * 3 AS BIGINT) AS curr_val
      |FROM generate_series(1, 50) t(i) ORDER BY n""") { (s, dir) =>
    graft.functions.Sequences.execute(s,
      "CREATE OR REPLACE SEQUENCE q_seq_gate START 100 INCREMENT 3")
    s.range(1, 51)
      .coalesce(1)
      .sortWithinPartitions("id")
      .selectExpr("id AS n", "nextval('q_seq_gate') AS seq_val",
        "currval('q_seq_gate') AS curr_val")
      .orderBy("n")
  }
}
