package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Sequences

/** CREATE SEQUENCE / nextval / currval / setval emulation
  * (reference test/sql/catalog/sequence/test_sequence.test, setval.test,
  * sequence_overflow.test — semantics from
  * src/catalog/catalog_entry/sequence_catalog_entry.cpp).
  */
class SequencesSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  private def ddl(sql: String): Unit = Sequences.execute(spark, sql)
  private def one(sql: String): Any = spark.sql(sql).collect().head.get(0)

  test("nextval/currval basic protocol") {
    Sequences.clear(spark)
    ddl("CREATE SEQUENCE seq")
    assert(one("SELECT nextval('seq')") == 1L)
    assert(one("SELECT currval('seq')") == 1L)
    assert(one("SELECT currval('seq')") == 1L)
    assert(one("SELECT nextval('seq')") == 2L)
    // two call sites in one row advance twice, left to right
    val r = spark.sql("SELECT nextval('seq'), nextval('seq')").collect().head
    assert((r.getLong(0), r.getLong(1)) == (3L, 4L))
    // quoted spelling reaches the same sequence
    assert(one("SELECT nextval('\"seq\"')") == 5L)
    ddl("DROP SEQUENCE seq")
  }

  test("currval before any nextval raises; NULL name yields NULL") {
    Sequences.clear(spark)
    ddl("CREATE SEQUENCE seq")
    val e = intercept[Exception](one("SELECT currval('seq')"))
    assert(e.getMessage.contains("not yet defined in this session") ||
      e.getCause != null && e.getCause.getMessage.contains("not yet defined"))
    assert(one("SELECT nextval(NULL)") == null)
    assert(one("SELECT currval(NULL)") == null)
    ddl("DROP SEQUENCE seq")
  }

  test("catalog errors: duplicate create, missing drop, IF-variants") {
    Sequences.clear(spark)
    ddl("CREATE SEQUENCE seq")
    val dup = intercept[IllegalArgumentException](ddl("CREATE SEQUENCE seq"))
    assert(dup.getMessage.contains("already exists"))
    ddl("CREATE SEQUENCE IF NOT EXISTS seq") // no error
    ddl("CREATE OR REPLACE SEQUENCE seq")    // resets
    assert(one("SELECT nextval('seq')") == 1L)
    ddl("DROP SEQUENCE seq")
    val miss = intercept[IllegalArgumentException](ddl("DROP SEQUENCE seq"))
    assert(miss.getMessage.contains("does not exist"))
    ddl("DROP SEQUENCE IF EXISTS seq") // no error
  }

  test("INCREMENT BY / MINVALUE / MAXVALUE / START defaults") {
    Sequences.clear(spark)
    ddl("CREATE SEQUENCE s2 INCREMENT BY 2")
    assert(one("SELECT nextval('s2')") == 1L)
    assert(one("SELECT nextval('s2')") == 3L)
    ddl("CREATE SEQUENCE s3 MINVALUE 3")
    assert(one("SELECT nextval('s3')") == 3L)
    ddl("CREATE SEQUENCE sd INCREMENT BY -1")
    assert(one("SELECT nextval('sd')") == -1L) // desc default start = max = -1
    assert(one("SELECT nextval('sd')") == -2L)
    ddl("CREATE SEQUENCE sw START WITH 7")
    assert(one("SELECT nextval('sw')") == 7L)
    Sequences.clear(spark)
  }

  test("MAXVALUE raises without CYCLE, wraps with CYCLE") {
    Sequences.clear(spark)
    ddl("CREATE SEQUENCE sm MAXVALUE 2")
    assert(one("SELECT nextval('sm')") == 1L)
    assert(one("SELECT nextval('sm')") == 2L)
    val e = intercept[Exception](one("SELECT nextval('sm')"))
    assert(e.getMessage.contains("reached maximum value") ||
      e.getCause != null && e.getCause.getMessage.contains("reached maximum value"))
    ddl("CREATE SEQUENCE sc MAXVALUE 2 CYCLE")
    assert(one("SELECT nextval('sc')") == 1L)
    assert(one("SELECT nextval('sc')") == 2L)
    assert(one("SELECT nextval('sc')") == 1L) // wrapped
    Sequences.clear(spark)
  }

  test("int64 boundary overflow cycles exactly (sequence_overflow.test)") {
    Sequences.clear(spark)
    ddl("""CREATE SEQUENCE so INCREMENT BY 1
          |MINVALUE 9223372036854775800 MAXVALUE 9223372036854775807 CYCLE""".stripMargin)
    val got = (1 to 10).map(_ => one("SELECT nextval('so')"))
    assert(got == Seq(9223372036854775800L, 9223372036854775801L,
      9223372036854775802L, 9223372036854775803L, 9223372036854775804L,
      9223372036854775805L, 9223372036854775806L, 9223372036854775807L,
      9223372036854775800L, 9223372036854775801L))
    Sequences.clear(spark)
  }

  test("setval with and without is_called (setval.test)") {
    Sequences.clear(spark)
    ddl("CREATE SEQUENCE ms")
    assert(one("SELECT setval('ms', 42)") == 42L)
    assert(one("SELECT nextval('ms')") == 43L)
    ddl("CREATE OR REPLACE SEQUENCE ms")
    assert(one("SELECT setval('ms', 42, false)") == 42L)
    assert(one("SELECT nextval('ms')") == 42L)
    val oob = intercept[Exception](one("SELECT setval('ms', -5)"))
    assert(oob.getMessage.contains("out of bounds") ||
      oob.getCause != null && oob.getCause.getMessage.contains("out of bounds"))
    Sequences.clear(spark)
  }

  test("non-constant sequence name is the reference binder error") {
    Sequences.clear(spark)
    ddl("CREATE SEQUENCE nb")
    val e = intercept[Exception] {
      spark.sql("SELECT nextval(a) FROM (VALUES ('nb'), ('nb')) t(a)").collect()
    }
    assert(e.getMessage.contains("constant expression") ||
      e.getCause != null && e.getCause.getMessage.contains("constant expression"))
    Sequences.clear(spark)
  }

  test("parser validation: zero increment, min/max/start ordering") {
    Sequences.clear(spark)
    assert(intercept[IllegalArgumentException](
      ddl("CREATE SEQUENCE z INCREMENT BY 0")).getMessage.contains("must not be zero"))
    assert(intercept[IllegalArgumentException](
      ddl("CREATE SEQUENCE z MINVALUE 5 MAXVALUE 3")).getMessage.contains("less than MAXVALUE"))
    assert(intercept[IllegalArgumentException](
      ddl("CREATE SEQUENCE z MINVALUE 2 START 1")).getMessage.contains("cannot be less than MINVALUE"))
    assert(intercept[IllegalArgumentException](
      ddl("CREATE SEQUENCE z MAXVALUE 5 START 9")).getMessage.contains("cannot be greater than MAXVALUE"))
  }

  test("quoted-qualified CREATE/DROP captures the whole name") {
    Sequences.clear(spark)
    // a bare-first alternation used to match only "s1" and swallow
    // '."seq"' into the options, silently creating main.s1
    ddl("""CREATE SEQUENCE "s1"."seq" START 7""")
    assert(one("""SELECT nextval('"s1"."seq"')""") == 7L)
    assert(one("SELECT nextval('s1.seq')") == 8L)
    ddl("""DROP SEQUENCE "s1"."seq"""")
    val e = intercept[Exception](one("SELECT nextval('s1.seq')"))
    assert(e.getMessage.contains("does not exist") ||
      e.getCause != null && e.getCause.getMessage.contains("does not exist"))
  }

  test("duckdb_sequences() escapes quotes inside identifiers") {
    Sequences.clear(spark)
    ddl("""CREATE SEQUENCE "se'q" START 3""")
    val rows = graft.engine.Sql.execute(spark,
        "SELECT sequence_name, start_value FROM duckdb_sequences()")
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "se'q")
    assert(rows.head.getAs[Number](1).longValue == 3L)
    ddl("""DROP SEQUENCE "se'q"""")
  }
}
