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

  test("list + list concatenates (reference list arithmetic)") {
    assert(one("SELECT array(1, 2) + array(3)") ==
      scala.collection.mutable.ArraySeq(1, 2, 3))
    // numeric + stays numeric
    assert(one("SELECT 1 + 2") == 3)
  }
}
