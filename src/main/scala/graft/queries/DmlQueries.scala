package graft.queries

import graft.engine.Tables

/** Driver-gated DML + sampling rows (SURVEY §2.9, §2.6).
  *
  * The DML rows build a scratch table (a temp view — the importer-equivalent table
  * materialization, location-free across driver rounds) from the fixtures, run the
  * copy-on-write DML engine (graft.functions.Dml), and return the final
  * table contents; the DuckDB oracle expresses the same final state as a
  * pure SELECT over the untouched fixtures — so the gate checks that the
  * imperative UPDATE/DELETE/MERGE execution matches its declarative
  * specification hash-exactly. All joins are on unique keys, so the
  * "arbitrary single match" rule never fires and the result is
  * deterministic.
  *
  * The sampling row asserts the portable part of the reservoir-sampling
  * contract — an exact row-count — through each engine's OWN sampling
  * operator (Spark TABLESAMPLE (n ROWS), reference USING SAMPLE n ROWS):
  * the kept SET is RNG-specific, its SIZE is not.
  */
object DmlQueries extends Pack {

  // UPDATE .. FROM (unique-key join) + predicate DELETE, verified against
  // the declarative LEFT JOIN + filter spelling
  q("q_dml_update_from",
    """SELECT c_custkey AS k,
      |       CAST(round((c_acctbal + COALESCE(d.delta, 0.0)) * 100) AS BIGINT) AS balc
      |FROM customer
      |LEFT JOIN (SELECT o_custkey, count(*) * 10.0 AS delta
      |           FROM orders GROUP BY o_custkey) d
      |  ON c_custkey = d.o_custkey
      |WHERE c_nationkey < 20
      |ORDER BY k""") { (s, dir) =>
    Tables.registerAll(s, dir)
    exec(s,
      """CREATE OR REPLACE TEMPORARY VIEW dml_drv_bal AS
        |SELECT c_custkey AS k, c_acctbal AS bal, c_nationkey AS nk FROM customer""".stripMargin,
      """UPDATE dml_drv_bal SET bal = bal + d.delta
        |FROM (SELECT o_custkey AS k, count(*) * 10.0 AS delta
        |      FROM orders GROUP BY o_custkey) d
        |WHERE dml_drv_bal.k = d.k""".stripMargin,
      "DELETE FROM dml_drv_bal WHERE nk >= 20")
    s.sql("""SELECT k, CAST(round(bal * 100) AS BIGINT) AS balc
            |FROM dml_drv_bal ORDER BY k""".stripMargin)
  }

  // MERGE INTO: conditional DELETE + UPDATE + NOT-MATCHED INSERT in one
  // statement, against the declarative outer-join spelling
  q("q_dml_merge",
    """WITH src AS (SELECT c_nationkey AS k, CAST(count(*) AS DOUBLE) AS total
      |             FROM customer GROUP BY c_nationkey),
      |     t AS (SELECT n_nationkey AS k, n_name AS name,
      |                  CAST(0.0 AS DOUBLE) AS total
      |           FROM nation WHERE n_nationkey < 15)
      |SELECT k, name, CAST(total AS BIGINT) AS total FROM (
      |  SELECT t.k, t.name, COALESCE(src.total, t.total) AS total
      |  FROM t LEFT JOIN src ON t.k = src.k
      |  WHERE NOT (src.k IS NOT NULL AND src.k % 3 = 0)
      |  UNION ALL
      |  SELECT src.k, 'ingested', src.total FROM src
      |  WHERE src.k NOT IN (SELECT k FROM t)
      |) f ORDER BY k""") { (s, dir) =>
    Tables.registerAll(s, dir)
    exec(s,
      """CREATE OR REPLACE TEMPORARY VIEW dml_drv_m AS
        |SELECT n_nationkey AS k, n_name AS name, CAST(0.0 AS DOUBLE) AS total
        |FROM nation WHERE n_nationkey < 15""".stripMargin,
      """MERGE INTO dml_drv_m USING (SELECT c_nationkey AS k,
        |      CAST(count(*) AS DOUBLE) AS total
        |      FROM customer GROUP BY c_nationkey) AS src
        |ON dml_drv_m.k = src.k
        |WHEN MATCHED AND src.k % 3 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET total = src.total
        |WHEN NOT MATCHED THEN INSERT VALUES (src.k, 'ingested', src.total)""".stripMargin)
    s.sql("""SELECT k, name, CAST(total AS BIGINT) AS total
            |FROM dml_drv_m ORDER BY k""".stripMargin)
  }

  // INSERT ... ON CONFLICT upsert (r12): conflicted keys take the
  // excluded row's value, fresh keys append — verified against the
  // declarative LEFT JOIN + anti-join spelling. The PK on the scratch
  // view is registered through graft.functions.Constraints, the same
  // registry the SQL DDL path fills.
  q("q_dml_upsert",
    """WITH src AS (SELECT c_nationkey AS k, count(*) AS total
      |             FROM customer GROUP BY c_nationkey),
      |     t AS (SELECT n_nationkey AS k, n_name AS name,
      |                  CAST(0 AS BIGINT) AS total
      |           FROM nation WHERE n_nationkey < 15)
      |SELECT k, name, total FROM (
      |  SELECT t.k, t.name,
      |         CASE WHEN src.k IS NOT NULL THEN src.total ELSE t.total END AS total
      |  FROM t LEFT JOIN src ON t.k = src.k
      |  UNION ALL
      |  SELECT src.k, 'ingested', src.total FROM src
      |  WHERE src.k NOT IN (SELECT k FROM t)
      |) f ORDER BY k, name""") { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql("""CREATE OR REPLACE TEMPORARY VIEW dml_drv_ups AS
            |SELECT n_nationkey AS k, n_name AS name, CAST(0 AS BIGINT) AS total
            |FROM nation WHERE n_nationkey < 15""".stripMargin).collect()
    graft.functions.Constraints.register(s,
      graft.functions.Constraints.TableConstraints("dml_drv_ups",
        notNull = Seq("k"), checks = Nil,
        uniques = Seq(graft.functions.Constraints.UniqueSet(Seq("k"), isPk = true))))
    exec(s,
      """INSERT INTO dml_drv_ups
        |SELECT c_nationkey, 'ingested', count(*) FROM customer
        |GROUP BY c_nationkey
        |ON CONFLICT (k) DO UPDATE SET total = excluded.total""".stripMargin)
    s.sql("SELECT k, name, total FROM dml_drv_ups ORDER BY k, name")
  }

  // reservoir sampling's portable contract: the kept set is RNG-specific,
  // the COUNT is exact on both engines' native sampling operators
  q("q_sample_rows",
    """SELECT count(*) AS n
      |FROM (SELECT * FROM lineitem USING SAMPLE 1000 ROWS (reservoir)) t""") { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql("""SELECT count(*) AS n
            |FROM (SELECT * FROM lineitem TABLESAMPLE (1000 ROWS)) t""".stripMargin)
  }
}
