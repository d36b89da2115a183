package graft

import org.scalatest.funsuite.AnyFunSuite

/** pg_catalog compatibility views (reference default_views.cpp:35-160;
  * test/sql/pg_catalog/). */
class PgCatalogSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  private def rows(sql: String) = graft.engine.Sql.execute(spark, sql).collect()

  test("pg_am / pg_tablespace constants") {
    val am = rows("SELECT * FROM pg_am")
    assert(am.length == 1 && am.head.getString(1) == "art")
    val ts = rows("SELECT spcname FROM pg_catalog.pg_tablespace")
    assert(ts.head.getString(0) == "pg_default")
  }

  test("pg_class joins pg_attribute on oid (pg_attribute.test shape)") {
    spark.sql("DROP TABLE IF EXISTS pgspec_integers")
    spark.sql("CREATE TABLE pgspec_integers(i integer) USING parquet")
    try {
      val r = rows(
        """select relname, attname, attnum from pg_attribute
          |join pg_class on (pg_attribute.attrelid=pg_class.oid)
          |where relname='pgspec_integers' and attnum>=0""".stripMargin)
      assert(r.map(x => (x.getString(0), x.getString(1), x.getInt(2))).toSeq ==
        Seq(("pgspec_integers", "i", 1)))
    } finally spark.sql("DROP TABLE IF EXISTS pgspec_integers")
  }

  test("pg_namespace lists user schemas with stable oids") {
    spark.sql("CREATE DATABASE IF NOT EXISTS pgspec_schema")
    try {
      val a = rows("SELECT * FROM pg_namespace WHERE nspname='pgspec_schema'")
      assert(a.length == 1)
      val oid1 = a.head.getInt(0)
      spark.sql("CREATE DATABASE IF NOT EXISTS pgspec_schema2")
      val b = rows("SELECT * FROM pg_catalog.pg_namespace WHERE nspname='pgspec_schema'")
      assert(b.head.getInt(0) == oid1) // oid survives later DDL
    } finally {
      spark.sql("DROP DATABASE IF EXISTS pgspec_schema CASCADE")
      spark.sql("DROP DATABASE IF EXISTS pgspec_schema2 CASCADE")
    }
  }

  test("pg_views / pg_tables owner rows") {
    spark.sql("CREATE OR REPLACE TEMP VIEW pgspec_v1 AS SELECT 42 AS x")
    val v = rows("SELECT viewname, viewowner FROM pg_views WHERE viewname='pgspec_v1'")
    assert(v.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("pgspec_v1", "duckdb")))
    spark.catalog.dropTempView("pgspec_v1")
  }

  test("pg_constraint renders PK + implied NOT NULL + FK (pg_constraint.test)") {
    val S = graft.GraftTest // shared session
    def exec(sql: String) = graft.engine.Sql.execute(spark, sql)
    graft.functions.Constraints.clear(spark)
    exec("DROP TABLE IF EXISTS pgc_b"); exec("DROP TABLE IF EXISTS pgc_a")
    exec("create table pgc_a (id int , primary key (id))")
    exec("create table pgc_b (id int , foreign_a int, foreign key (foreign_a) references pgc_a)")
    try {
      val r = rows(
        """SELECT conname, contype, conkey FROM pg_catalog.pg_constraint
          |WHERE conname LIKE '%id%' OR contype='f' OR conname='NOT NULL'""".stripMargin)
        .map(x => (x.getString(0), x.getString(1), x.getSeq[Int](2).toList))
      assert(r.contains(("PRIMARY KEY(id)", "p", List(0))), r.toSeq)
      assert(r.contains(("NOT NULL", "x", List(0))), r.toSeq)
      assert(r.exists(t => t._2 == "f" && t._3 == List(1)), r.toSeq)
    } finally {
      exec("DROP TABLE IF EXISTS pgc_b"); exec("DROP TABLE IF EXISTS pgc_a")
    }
  }

  test("pg_settings over duckdb_settings") {
    val r = rows("SELECT name, setting, vartype FROM pg_settings WHERE name='TimeZone'")
    assert(r.length == 1 && r.head.getString(2) == "string")
  }
}
