package graft.queries

import graft.engine.{Sql, Tables}

/** ATTACH/DETACH + EXPORT/IMPORT DATABASE driver rows (SURVEY §2.1,
  * §2.9; reference physical_attach.cpp / physical_export.cpp).
  *
  * q_attach_query attaches the fixture DIRECTORY as a database (one
  * path-backed external table per parquet file — metadata-only, scans
  * stream) and joins across the attached catalog; the oracle is the
  * same join over the plain views, so the gate proves attached tables
  * read byte-identically.
  *
  * q_export_roundtrip creates tables (one carrying a PRIMARY KEY) in a
  * scratch attached database, EXPORTs it (parquet data + schema.sql
  * with the constraint re-emitted + load.sql), drops everything,
  * IMPORTs it back, and returns the restored contents — the oracle is
  * the original data, so the gate checks the full dump/restore cycle
  * hash-exactly.
  */
object CatalogOps extends Pack {

  // COPY (query) TO parquet → read the files back through the SQL
  // file-relation surface (FileTables) — the statement-level spelling of
  // the §2.1 COPY roundtrips; oracle = the same query over the base table
  q("q_copy_roundtrip",
    """SELECT o_orderpriority AS pri, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sp
      |FROM orders WHERE o_custkey % 7 = 0
      |GROUP BY o_orderpriority ORDER BY pri""") { (s, dir) =>
    Tables.registerAll(s, dir)
    val out = java.nio.file.Files.createTempDirectory("graft_copy_drv").toString
    exec(s,
      s"""COPY (SELECT o_orderpriority, o_orderkey FROM orders
         |      WHERE o_custkey % 7 = 0) TO '$out/o.parquet'""".stripMargin)
    Sql.execute(s,
      s"""SELECT o_orderpriority AS pri, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sp
         |FROM '$out/o.parquet'
         |GROUP BY o_orderpriority ORDER BY pri""".stripMargin)
  }

  q("q_attach_query",
    """SELECT n.n_name AS name, count(*) AS custs
      |FROM nation n JOIN customer c ON n.n_nationkey = c.c_nationkey
      |GROUP BY n.n_name ORDER BY name""") { (s, dir) =>
    Tables.registerAll(s, dir)
    exec(s, s"DETACH DATABASE IF EXISTS graft_ext")
    exec(s, s"ATTACH '$dir' AS graft_ext")
    s.sql("""SELECT n.n_name AS name, count(*) AS custs
            |FROM graft_ext.nation n
            |JOIN graft_ext.customer c ON n.n_nationkey = c.c_nationkey
            |GROUP BY n.n_name ORDER BY name""".stripMargin)
  }

  q("q_export_roundtrip",
    """SELECT n_nationkey AS k, n_name AS name, n_regionkey AS rk
      |FROM nation ORDER BY k""") { (s, dir) =>
    Tables.registerAll(s, dir)
    val out = java.nio.file.Files.createTempDirectory("graft_export_drv").toString
    val prev = s.catalog.currentDatabase
    exec(s, "DETACH DATABASE IF EXISTS graft_expdb")
    // a crashed prior run can leave an orphan warehouse dir that blocks
    // the managed-table create — purge the database location first
    purgeWarehouse(s, "graft_expdb.db")
    exec(s, "ATTACH ':memory:' AS graft_expdb")
    s.catalog.setCurrentDatabase("graft_expdb")
    try {
      exec(s,
        """CREATE TABLE exp_nation(k INT PRIMARY KEY, name STRING, rk INT)""")
      exec(s,
        """INSERT INTO exp_nation
          |SELECT CAST(n_nationkey AS INT), CAST(n_name AS STRING),
          |       CAST(n_regionkey AS INT) FROM nation""".stripMargin)
      exec(s, s"EXPORT DATABASE '$out' (FORMAT 'parquet')")
      exec(s, "DROP TABLE exp_nation")
      exec(s, s"IMPORT DATABASE '$out'")
      s.sql("SELECT k, name, rk FROM exp_nation ORDER BY k")
        .localCheckpoint(true)
    } finally s.catalog.setCurrentDatabase(prev)
  }
}
