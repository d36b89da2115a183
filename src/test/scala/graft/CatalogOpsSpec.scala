package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Attach, Constraints, ExportDb}

/** ATTACH/DETACH + EXPORT/IMPORT DATABASE (graft.functions.Attach /
  * ExportDb), pinned to the reference surface (physical_attach.cpp,
  * physical_export.cpp, test/sql/attach/, test/sql/export/
  * export_database.test). */
class CatalogOpsSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark

  private def sql(s: String) = spark.sql(s).collect()

  private def cleanup(): Unit = {
    spark.catalog.setCurrentDatabase("default")
    spark.catalog.listDatabases().collect().map(_.name)
      .filterNot(_ == "default")
      .foreach(db => spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE"))
  }

  test("ATTACH ':memory:' creates a database; cross-catalog refs resolve; DETACH drops") {
    cleanup()
    Attach.execute(spark, "ATTACH ':memory:' AS adb")
    sql("CREATE TABLE adb.t1(a INT)")
    sql("INSERT INTO adb.t1 VALUES (1), (2)")
    assert(sql("SELECT count(*) FROM adb.t1").head.getLong(0) == 2)
    // double attach errors; IF NOT EXISTS is silent
    val e = intercept[Exception](Attach.execute(spark, "ATTACH ':memory:' AS adb"))
    assert(e.getMessage.contains("already attached"))
    Attach.execute(spark, "ATTACH IF NOT EXISTS ':memory:' AS adb")
    Attach.execute(spark, "DETACH adb")
    assert(!spark.catalog.databaseExists("adb"))
    val e2 = intercept[Exception](Attach.execute(spark, "DETACH adb"))
    assert(e2.getMessage.contains("database not found"))
    Attach.execute(spark, "DETACH DATABASE IF EXISTS adb") // silent
  }

  test("alias defaults to the path stem (transform_attach.cpp)") {
    assert(Attach.defaultAlias("dir/tpch.db") == "tpch")
    assert(Attach.defaultAlias("/a/b/warehouse") == "warehouse")
    assert(Attach.defaultAlias(":memory:") == "_memory_")
  }

  test("ATTACH of a parquet directory registers path-backed tables") {
    cleanup()
    val dir = java.nio.file.Files.createTempDirectory("graft_attach_spec")
    spark.range(10).toDF("x").write.parquet(dir.resolve("nums.parquet").toString)
    Attach.execute(spark, s"ATTACH '$dir' AS pdb")
    assert(sql("SELECT count(*) FROM pdb.nums").head.getLong(0) == 10)
    Attach.execute(spark, "DETACH pdb")
  }

  test("duckdb_databases() lists attached catalogs") {
    cleanup()
    Attach.execute(spark, "ATTACH ':memory:' AS listme")
    val rows = graft.engine.Sql.execute(spark,
      "SELECT database_name FROM duckdb_databases() ORDER BY database_name")
      .collect().map(_.getString(0)).toSeq
    assert(rows.contains("listme") && rows.contains("default"))
    Attach.execute(spark, "DETACH listme")
  }

  test("EXPORT/IMPORT DATABASE roundtrip incl. constraints in schema.sql") {
    cleanup()
    Attach.execute(spark, "ATTACH ':memory:' AS expdb")
    spark.catalog.setCurrentDatabase("expdb")
    try {
      Constraints.executeDdl(spark,
        "CREATE TABLE t_exp(i INT PRIMARY KEY, s STRING, CHECK(i < 1000))")
      sql("INSERT INTO t_exp VALUES (1, 'a'), (2, 'b')")
      val out = java.nio.file.Files.createTempDirectory("graft_export_spec").toString
      ExportDb.execute(spark, s"EXPORT DATABASE '$out' (FORMAT 'parquet')")
      val schema = java.nio.file.Files.readString(
        java.nio.file.Paths.get(out, "schema.sql"))
      assert(schema.contains("PRIMARY KEY") && schema.contains("CHECK"))
      sql("DROP TABLE t_exp")
      Constraints.unregister(spark, "t_exp")
      ExportDb.execute(spark, s"IMPORT DATABASE '$out'")
      assert(sql("SELECT i, s FROM t_exp ORDER BY i").map(r =>
        (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a"), (2, "b")))
      // the import re-registered the constraints: duplicate PK rejects
      val e = intercept[Exception](
        graft.functions.Dml.execute(spark, "INSERT INTO t_exp VALUES (1, 'dup')"))
      assert(e.getMessage.contains("duplicate key"))
    } finally {
      spark.catalog.setCurrentDatabase("default")
      cleanup()
    }
  }

  test("EXPORT FORMAT diagnostics mirror export_database.test") {
    assert(intercept[Exception](
      ExportDb.execute(spark, "EXPORT DATABASE '/tmp/x' (FORMAT)"))
      .getMessage.contains("FORMAT requires a parameter"))
    assert(intercept[Exception](
      ExportDb.execute(spark, "EXPORT DATABASE '/tmp/x' (FORMAT lower('csv'))"))
      .getMessage.contains("Unsupported parameter type"))
    assert(intercept[Exception](
      ExportDb.execute(spark, "EXPORT DATABASE '/tmp/x' (FORMAT x)"))
      .getMessage.contains("Copy Function with name x does not exist"))
  }

  test("EXPORT csv roundtrips too") {
    cleanup()
    Attach.execute(spark, "ATTACH ':memory:' AS csvdb")
    spark.catalog.setCurrentDatabase("csvdb")
    try {
      sql("CREATE TABLE t_csv(i INT, s STRING)")
      sql("INSERT INTO t_csv VALUES (1, 'x'), (2, 'y')")
      val out = java.nio.file.Files.createTempDirectory("graft_export_csv").toString
      ExportDb.execute(spark, s"EXPORT DATABASE '$out' (FORMAT 'csv')")
      sql("DROP TABLE t_csv")
      ExportDb.execute(spark, s"IMPORT DATABASE '$out'")
      assert(sql("SELECT count(*) FROM t_csv").head.getLong(0) == 2)
    } finally {
      spark.catalog.setCurrentDatabase("default")
      cleanup()
    }
  }
}
