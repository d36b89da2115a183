package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Sql

/** QUALIFY clause lowering (graft.functions.QualifyRewrite): the
  * reference plans QUALIFY as a filter over the window-computed
  * projection between HAVING and DISTINCT
  * (reference src/parser/peg/grammar/statements/select.gram:148).
  */
class QualifySpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  private def run(sql: String) =
    Sql.execute(spark, sql).collect()

  private def setup(): Unit = {
    import spark.implicits._
    Seq((1, "a", 10), (1, "b", 20), (1, "c", 30),
      (2, "d", 5), (2, "e", 50), (3, "f", 7))
      .toDF("grp", "name", "v").createOrReplaceTempView("qt")
  }

  test("QUALIFY over an inline window expression") {
    setup()
    val rows = run(
      """SELECT grp, name FROM qt
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v DESC) = 1
        |ORDER BY grp""".stripMargin)
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "c"), (2, "e"), (3, "f")))
  }

  test("QUALIFY referencing a select-list window alias") {
    setup()
    val rows = run(
      """SELECT grp, name, rank() OVER (PARTITION BY grp ORDER BY v) AS rk
        |FROM qt QUALIFY rk <= 1 ORDER BY grp""".stripMargin)
    assert(rows.map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1, "a", 1), (2, "d", 1), (3, "f", 1)))
  }

  test("QUALIFY with WHERE and LIMIT tail") {
    setup()
    val rows = run(
      """SELECT grp, v FROM qt WHERE v > 5
        |QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v) = 1
        |ORDER BY grp LIMIT 2""".stripMargin)
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 10), (2, 50)))
  }

  test("QUALIFY after GROUP BY filters over the aggregate projection") {
    setup()
    val rows = run(
      """SELECT grp, sum(v) AS total FROM qt GROUP BY grp
        |QUALIFY rank() OVER (ORDER BY sum(v) DESC) = 1""".stripMargin)
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 60L)))
  }

  test("SELECT DISTINCT applies after the QUALIFY filter") {
    setup()
    val rows = run(
      """SELECT DISTINCT grp FROM qt
        |QUALIFY count(*) OVER (PARTITION BY grp) >= 2
        |ORDER BY grp""".stripMargin)
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
  }

  test("QUALIFY inside a subquery rewrites at its own depth") {
    setup()
    val rows = run(
      """SELECT count(*) AS n FROM (
        |  SELECT grp FROM qt
        |  QUALIFY row_number() OVER (PARTITION BY grp ORDER BY v) = 1) t""".stripMargin)
    assert(rows.head.getLong(0) == 3L)
  }

  test("the word qualify inside a string literal is untouched") {
    val rows = run("SELECT 'does not qualify' AS s")
    assert(rows.head.getString(0) == "does not qualify")
  }
}
