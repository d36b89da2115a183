package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Sql

/** Round-11 dialect surface: function chaining, reference
  * regexp_replace semantics, icu_sort_key, list `+` concatenation.
  * (Reference: transform_function.cpp dot-call desugar;
  * re_functions.cpp RegexpReplace; the icu extension's sort keys.) */
class DialectSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark
  private def one(s: String): Any =
    Sql.execute(spark, s).head.get(0)

  test("function chaining desugars: v.f(args) = f(v, args), composed") {
    assert(one("SELECT 'Hello'.lower()") == "hello")
    assert(one("SELECT 'Hello World'.lower().upper()") == "HELLO WORLD")
    assert(one("SELECT ('Hello').substr(2, 3)") == "ell")
    assert(one("SELECT 'a b c'.split(' ').aggregate('count')") == 3L)
    // qualified function calls do NOT desugar
    spark.sql("CREATE SCHEMA IF NOT EXISTS fc_s1")
    assert(one("SELECT abs(-1)") == 1) // sanity
    val viaAlias = Sql.execute(spark,
      "SELECT t.v.lower() FROM (SELECT 'X' AS v) t").head.getString(0)
    assert(viaAlias == "x")
  }

  test("regexp_replace: first match by default, 'g' for global, RE2 rules") {
    assert(one("SELECT regexp_replace('foobarbaz', 'b..', 'X')") == "fooXbaz")
    assert(one("SELECT regexp_replace('ana ana', 'ana', 'banana', 'g')") == "banana banana")
    assert(one("SELECT regexp_replace('ANA', 'ana', 'banana', 'i')") == "banana")
    // 'l' literal matching
    assert(one("SELECT regexp_replace('as^/$df', '^/$', '', 'l')") == "asdf")
    // RE2 \\1 backrefs; empty match adjacent to a previous match skipped
    assert(one("SELECT regexp_replace('ab', '(a)(b)', '\\\\2\\\\1')") == "ba")
    assert(one("SELECT regexp_replace('a\\nb', '.*', 'x', 'sg')") == "x")
    // invalid rewrite escape errors (re2 Rewrite rules)
    intercept[Exception](one("SELECT regexp_replace('abc', 'b', 'X\\\\xY', 'g')"))
  }

  test("icu_sort_key orders per locale and validates names") {
    val de = one("SELECT icu_sort_key('Göbel', 'de') < icu_sort_key('Goethe', 'de')")
    assert(de == true) // ö sorts with o in German, before 'oe'... key order defined
    intercept[Exception](one("SELECT icu_sort_key('x', 'DUCK_DUCK_ENUM')"))
    // accent-insensitive modifier: keys equal
    assert(one("SELECT icu_sort_key('æ', 'icu_noaccent') = icu_sort_key('Æ', 'icu_noaccent')") == true)
  }

  test("SqlText: quotes, nested comments and all three bracket kinds") {
    import graft.functions.SqlText
    assert(SqlText.splitTop(
      "'it''s', \"a,b\", `c,d`, [1, 2], {'k': (1, 2)}, f(x) /* p, /* q, */ r, */ -- s, t") ==
      Seq("'it''s'", "\"a,b\"", "`c,d`", "[1, 2]", "{'k': (1, 2)}",
        "f(x) /* p, /* q, */ r, */ -- s, t"))
    val t = SqlText("f([a, (b)], 'x)', c) -- where\nWHERE")
    assert(t.argsAt(1) == ((Seq("[a, (b)]", "'x)'", "c"), 20)))
    assert(t.findKw(0, "where") == ((30, "where")))
    assert(SqlText.stripComments("SELECT /*+ BROADCAST(t) */ 1 /* a /* b */ c */ -- d\n+ 1") ==
      "SELECT /*+ BROADCAST(t) */ 1    \n+ 1")
  }

  test("comments are stripped once at the front door; literals and hints stay") {
    def rows(s: String): Seq[Seq[Any]] =
      Sql.execute(spark, s).collect().toSeq.map(_.toSeq).sortBy(_.mkString(","))
    Sql.execute(spark, "DROP TABLE IF EXISTS dia_cm")
    Sql.execute(spark, "CREATE TABLE dia_cm(a INT, b INT) USING parquet")
    Sql.execute(spark, "INSERT INTO dia_cm VALUES (1, 1), (1, 2), (2, 2)")
    // the QUALIFY rewrite appends text after the statement: it must not
    // land inside a trailing comment
    assert(rows("SELECT a, b FROM dia_cm QUALIFY row_number() " +
      "OVER (PARTITION BY a ORDER BY b) = 1 -- first per a") == Seq(Seq(1, 1), Seq(2, 2)))
    // a keyword inside a comment is not the statement's WHERE
    assert(one("UPDATE dia_cm SET a = 2 -- set where needed\nWHERE b = 2") == 2L)
    assert(rows("SELECT a, b FROM dia_cm") == Seq(Seq(1, 1), Seq(2, 2), Seq(2, 2)))
    assert(one("UPDATE dia_cm SET a = 3 /* where */ WHERE b = 2") == 2L)
    assert(rows("SELECT a, b FROM dia_cm") == Seq(Seq(1, 1), Seq(3, 2), Seq(3, 2)))
    assert(one("SELECT '--x'") == "--x")
    assert(one("SELECT '/*x*/'") == "/*x*/")
    assert(one("SELECT /*+ BROADCAST(dia_cm) */ count(*) FROM dia_cm") == 3L)
  }

  test("dialect rewrites leave string literals alone") {
    assert(one("SELECT 'system.main.sum(x)'") == "system.main.sum(x)")
    assert(one("SELECT 'FROM duckdb_tables'") == "FROM duckdb_tables")
    assert(one("SELECT 'duckdb_databases()'") == "duckdb_databases()")
    assert(one("SELECT 'unnest(x) WITH ORDINALITY'") == "unnest(x) WITH ORDINALITY")
    assert(one("SELECT 'DISTINCT ON (k) k FROM t'") == "DISTINCT ON (k) k FROM t")
  }

  test("list + list concatenates (reference list arithmetic)") {
    assert(one("SELECT array(1, 2) + array(3)") ==
      scala.collection.mutable.ArraySeq(1, 2, 3))
    // numeric + stays numeric
    assert(one("SELECT 1 + 2") == 3)
  }
}
