package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Sql

/** Reference sampling dialect -> Spark TABLESAMPLE (SampleRewrite),
  * pinned against test/sql/sample/test_system_rows.test and
  * test_sample_too_big.test semantics. */
class SampleRewriteSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark
  private def sql(s: String) = Sql.execute(spark, s)

  test("USING SAMPLE n ROWS (method[, seed]) returns exactly n rows") {
    spark.sql("CREATE OR REPLACE TEMP VIEW smp AS SELECT id AS i FROM range(10000)")
    assert(sql("SELECT COUNT(*) FROM smp USING SAMPLE 100 ROWS (system)").head.getLong(0) == 100)
    assert(sql("SELECT COUNT(*) FROM smp USING SAMPLE 500 ROWS (system, 42)").head.getLong(0) == 500)
    assert(sql("SELECT COUNT(*) FROM smp USING SAMPLE 0 ROWS (system)").head.getLong(0) == 0)
    // clamped at table size (reference: "should not exceed table size")
    assert(sql("SELECT COUNT(*) FROM smp USING SAMPLE 15000 ROWS (system)").head.getLong(0) == 10000)
    // bare row-count and reservoir-method spellings
    assert(sql("SELECT COUNT(*) FROM smp USING SAMPLE 10").head.getLong(0) == 10)
    assert(sql("SELECT COUNT(*) FROM smp USING SAMPLE reservoir(250)").head.getLong(0) == 250)
  }

  test("TABLESAMPLE method(...) [REPEATABLE] forms parse and sample") {
    spark.sql("CREATE OR REPLACE TEMP VIEW smp2 AS SELECT id AS x FROM range(100000)")
    val c = sql("SELECT COUNT(*) FROM smp2 TABLESAMPLE system (25 PERCENT) REPEATABLE (42)")
      .head.getLong(0)
    assert(c > 15000 && c < 35000, s"25% sample count $c out of statistical bounds")
    val b = sql("SELECT COUNT(*) FROM smp2 TABLESAMPLE BERNOULLI (25 PERCENT) REPEATABLE (42)")
      .head.getLong(0)
    assert(b > 15000 && b < 35000)
    // same seed -> same sample (the reference's repeatability contract)
    val s1 = sql("SELECT sum(x) FROM smp2 TABLESAMPLE bernoulli (10 PERCENT) REPEATABLE (7)").head.getLong(0)
    val s2 = sql("SELECT sum(x) FROM smp2 TABLESAMPLE bernoulli (10 PERCENT) REPEATABLE (7)").head.getLong(0)
    assert(s1 == s2)
    assert(sql("SELECT COUNT(*) FROM smp2 TABLESAMPLE reservoir(77)").head.getLong(0) == 77)
  }

  test("reservoir sizes above the reference bound raise out-of-range") {
    spark.sql("CREATE OR REPLACE TEMP VIEW smp3 AS SELECT id AS a FROM range(5)")
    val e = intercept[IllegalArgumentException](
      sql("SELECT * FROM smp3 TABLESAMPLE RESERVOIR(1222222220022220)"))
    assert(e.getMessage.contains("out of range"))
    intercept[IllegalArgumentException](
      sql("SELECT * FROM smp3 WHERE a IN (SELECT * FROM smp3 TABLESAMPLE RESERVOIR(1000000001))"))
    // at the bound: whole (small) table survives
    assert(sql("SELECT COUNT(*) FROM (SELECT * FROM smp3 TABLESAMPLE RESERVOIR(1000000000))")
      .head.getLong(0) == 5)
  }

  test("sampling text inside string literals is never rewritten (r11 ADVICE)") {
    val lit = sql("SELECT 'USING SAMPLE 10 ROWS' AS s").head.getString(0)
    assert(lit == "USING SAMPLE 10 ROWS")
    val lit2 = sql("SELECT 'x TABLESAMPLE reservoir(5) y' AS s").head.getString(0)
    assert(lit2 == "x TABLESAMPLE reservoir(5) y")
    // macro bodies producing a sampling clause lower AFTER expansion
    spark.sql("CREATE OR REPLACE TEMP VIEW smp_mv AS SELECT id FROM range(1000)")
    graft.functions.Macros.defineAny(spark,
      "CREATE MACRO smp_m() AS TABLE SELECT * FROM smp_mv USING SAMPLE 10 ROWS")
    try {
      assert(sql("SELECT count(*) AS n FROM smp_m()").head.getLong(0) == 10)
    } finally graft.functions.Macros.clear(spark)
  }

  test("aggregate() fold form with a string init stays the builtin (r11 ADVICE)") {
    val r = sql("SELECT aggregate(array('a','b','c'), '', (acc, x) -> concat(acc, x)) AS s")
      .head.getString(0)
    assert(r == "abc")
    // the reference list_aggregate alias form still routes
    val m = sql("SELECT aggregate(array(1, 5, 3), 'max') AS m").head
    assert(m.get(0).toString == "5")
  }
}
