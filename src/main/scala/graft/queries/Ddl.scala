package graft.queries

import org.apache.spark.sql.SparkSession
import graft.engine.{Sql, Tables}
import graft.functions.Constraints

/** Driver-gated ALTER TABLE / generated-column / FOREIGN KEY rows
  * (SURVEY §2.9; reference test/sql/alter/, generated_columns/virtual/,
  * constraints/foreignkey/).
  *
  * Each row builds a scratch MANAGED table from the fixtures, runs the
  * DDL/DML through the engine's statement front door (graft.engine.Sql),
  * and returns the final contents; the DuckDB oracle expresses the same
  * final state as a pure SELECT over the untouched fixtures — so the
  * gate checks the imperative ALTER/verify execution against its
  * declarative specification hash-exactly.
  */
object Ddl extends Pack {

  /** DROP (which unregisters constraints) + purge the managed location. */
  private def fresh(s: SparkSession, tables: String*): Unit =
    tables.foreach { t =>
      exec(s, s"DROP TABLE IF EXISTS $t")
      purgeWarehouse(s, t)
    }

  // RENAME COLUMN → ADD COLUMN DEFAULT → ALTER TYPE → DROP COLUMN →
  // SET DEFAULT → insert relying on the new default; final contents
  // reproduce declaratively over the untouched fixture
  built("q_ddl_alter",
    """SELECT CAST(k AS BIGINT) AS k, name, CAST(tag AS BIGINT) AS tag FROM (
      |  SELECT n_nationkey AS k, n_name AS name, 7 AS tag FROM nation
      |  UNION ALL SELECT 99, 'zzz_new', 42
      |) ORDER BY k, name""") { (s, dir) =>
    Tables.registerAll(s, dir)
    fresh(s, "ddl_alter_t")
    exec(s,
      """CREATE TABLE ddl_alter_t AS
        |SELECT CAST(n_nationkey AS INT) AS nid, CAST(n_name AS STRING) AS nm,
        |       CAST(n_regionkey AS INT) AS rk
        |FROM nation""".stripMargin,
      "ALTER TABLE ddl_alter_t RENAME COLUMN nid TO k",
      "ALTER TABLE ddl_alter_t ADD COLUMN tag INT DEFAULT 7",
      "ALTER TABLE ddl_alter_t ALTER tag SET DATA TYPE BIGINT",
      "ALTER TABLE ddl_alter_t DROP COLUMN rk",
      "ALTER TABLE ddl_alter_t RENAME COLUMN nm TO name",
      "ALTER TABLE ddl_alter_t ALTER COLUMN tag SET DEFAULT 42",
      "INSERT INTO ddl_alter_t (k, name) VALUES (99, 'zzz_new')")
    s.sql("""SELECT CAST(k AS BIGINT) AS k, name, CAST(tag AS BIGINT) AS tag
            |FROM ddl_alter_t ORDER BY k, name""".stripMargin)
  }

  // VIRTUAL generated column: computed on insert (bulk + defaulted row),
  // recomputed by UPDATE, not directly insertable — final contents match
  // the declarative projection over the fixture
  built("q_ddl_generated",
    """SELECT CAST(k AS BIGINT) AS k, CAST(pop2 AS BIGINT) AS pop2 FROM (
      |  SELECT r_regionkey AS k,
      |         CASE WHEN r_regionkey = 0 THEN (r_regionkey + 10) * 3
      |              ELSE (r_regionkey + 10) * 2 END AS pop2
      |  FROM region
      |  UNION ALL SELECT 77, 174
      |) ORDER BY k""") { (s, dir) =>
    Tables.registerAll(s, dir)
    fresh(s, "ddl_gen_t")
    exec(s,
      """CREATE TABLE ddl_gen_t(k INT, base INT,
        |  pop2 BIGINT GENERATED ALWAYS AS (base * 2) VIRTUAL)""".stripMargin,
      """INSERT INTO ddl_gen_t (k, base)
        |SELECT CAST(r_regionkey AS INT), CAST(r_regionkey + 10 AS INT)
        |FROM region""".stripMargin,
      "INSERT INTO ddl_gen_t VALUES (77, 87)",
      "UPDATE ddl_gen_t SET base = base * 3 / 2 WHERE k = 0")
    Constraints.unregister(s, "ddl_gen_t")
    s.sql("SELECT CAST(k AS BIGINT) AS k, CAST(pop2 AS BIGINT) AS pop2 FROM ddl_gen_t ORDER BY k")
  }

  // FOREIGN KEY: child inserts verify against the parent (the rejected
  // batch writes nothing), parent deletes verify against children —
  // the surviving contents reproduce declaratively
  built("q_ddl_fk",
    """SELECT CAST(n_nationkey AS BIGINT) AS k, CAST(n_regionkey AS BIGINT) AS r
      |FROM nation
      |WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_regionkey <> 4)
      |ORDER BY k""") { (s, dir) =>
    Tables.registerAll(s, dir)
    fresh(s, "ddl_fk_child", "ddl_fk_parent")
    exec(s,
      "CREATE TABLE ddl_fk_parent(r INT PRIMARY KEY)",
      "INSERT INTO ddl_fk_parent SELECT CAST(r_regionkey AS INT) FROM region",
      """CREATE TABLE ddl_fk_child(k INT, r INT,
        |  FOREIGN KEY (r) REFERENCES ddl_fk_parent(r))""".stripMargin)
    // a batch with an unknown parent key is rejected atomically
    val rejected =
      try { exec(s, "INSERT INTO ddl_fk_child VALUES (900, 123456)"); false }
      catch { case e: Exception => e.getMessage.contains("foreign key") }
    require(rejected, "FK violation must reject the insert")
    exec(s,
      """INSERT INTO ddl_fk_child
        |SELECT CAST(n_nationkey AS INT), CAST(n_regionkey AS INT)
        |FROM nation""".stripMargin)
    // deleting a referenced parent key rejects; an unreferenced one is fine
    val blocked =
      try { exec(s, "DELETE FROM ddl_fk_parent WHERE r = 0"); false }
      catch { case e: Exception => e.getMessage.contains("foreign key") }
    require(blocked, "referenced parent delete must reject")
    exec(s,
      "DELETE FROM ddl_fk_child WHERE r = 4",
      "DELETE FROM ddl_fk_parent WHERE r = 4")
    Constraints.unregister(s, "ddl_fk_child")
    Constraints.unregister(s, "ddl_fk_parent")
    s.sql("SELECT CAST(k AS BIGINT) AS k, CAST(r AS BIGINT) AS r FROM ddl_fk_child ORDER BY k")
  }

  // DESCRIBE statement: the reference's six-column shape
  // (test_show_select.test) over a scratch table with constraints —
  // null/key/default columns populated from the registry
  built("q_describe",
    """SELECT col AS column_name, t AS column_type, n AS "null",
      |       k AS "key", d AS "default"
      |FROM (VALUES ('a', 'INTEGER', 'NO', 'PRI', NULL),
      |             ('b', 'VARCHAR', 'YES', NULL, '''x'''),
      |             ('c', 'DECIMAL(6,2)', 'YES', NULL, NULL))
      |  v(col, t, n, k, d)""") { (s, dir) =>
    fresh(s, "ddl_desc_t")
    exec(s,
      """CREATE TABLE ddl_desc_t(a INT PRIMARY KEY, b STRING DEFAULT 'x',
        |  c DECIMAL(6,2))""".stripMargin)
    val out = graft.functions.Describe.execute(s, "DESCRIBE ddl_desc_t")
      .select("column_name", "column_type", "null", "key", "default")
    graft.functions.Constraints.unregister(s, "ddl_desc_t")
    out
  }

  // catalog introspection TVFs over a scratch table: duckdb_columns()
  // column/type/index rows (reference duckdb_columns.cpp shape)
  built("q_catalog_tvf",
    """SELECT 'ddl_cat_t' AS table_name, col AS column_name, idx AS column_index, t AS data_type
      |FROM (VALUES ('a', CAST(1 AS INT), 'INTEGER'), ('b', CAST(2 AS INT), 'VARCHAR'), ('c', CAST(3 AS INT), 'DECIMAL(4,2)'))
      |  v(col, idx, t)
      |ORDER BY idx""") { (s, dir) =>
    fresh(s, "ddl_cat_t")
    exec(s, "CREATE TABLE ddl_cat_t(a INT, b STRING, c DECIMAL(4,2))")
    Sql.execute(s,
      """SELECT table_name, column_name, column_index, data_type
        |FROM duckdb_columns()
        |WHERE table_name = 'ddl_cat_t'
        |ORDER BY column_index""".stripMargin)
  }

  // pg_catalog compatibility views (reference default_views.cpp:35-160,
  // test/sql/pg_catalog/pg_attribute.test): the psql-style introspection
  // join pg_class ⋈ pg_attribute on oid, projected engine-neutral
  // (OIDs themselves are engine-specific). atttypmod carries the
  // DECIMAL precision*1000+scale encoding like the reference view.
  built("q_pg_catalog",
    """SELECT relname, relkind, attname, attnum, attnotnull, atttypmod
      |FROM (VALUES ('ddl_pg_t', 'r', 'a', 1, true, -1),
      |             ('ddl_pg_t', 'r', 'b', 2, false, 6002),
      |             ('ddl_pg_t', 'r', 'c', 3, false, -1))
      |  v(relname, relkind, attname, attnum, attnotnull, atttypmod)
      |ORDER BY attnum""") { (s, dir) =>
    fresh(s, "ddl_pg_t")
    exec(s, "CREATE TABLE ddl_pg_t(a INT PRIMARY KEY, b DECIMAL(6,2), c STRING)")
    val out = Sql.execute(s,
      """SELECT relname, relkind, attname, attnum, attnotnull, atttypmod
        |FROM pg_catalog.pg_attribute
        |JOIN pg_class ON (pg_attribute.attrelid = pg_class.oid)
        |WHERE relname = 'ddl_pg_t'
        |ORDER BY attnum""".stripMargin)
    graft.functions.Constraints.unregister(s, "ddl_pg_t")
    out
  }
}
