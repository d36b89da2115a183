package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Sql
import graft.functions.Constraints

/** FOREIGN KEY enforcement + generated-column registry behaviors,
  * pinned by the reference suites (test/sql/constraints/foreignkey/
  * fk_19469, test_fk_chain, test_fk_self_referencing;
  * generated_columns/virtual/{insert,update,rename}.test). */
class FkGeneratedSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark

  private def exec(s: String) = Sql.execute(spark, s).collect()
  private def err(s: String): String =
    intercept[Exception](exec(s)).getMessage
  private def fresh(names: String*): Unit = names.foreach { n =>
    Constraints.unregister(spark, n)
    spark.sql(s"DROP TABLE IF EXISTS $n").collect(): Unit
  }

  test("FK chain: inserts and deletes verify through every level (test_fk_chain)") {
    fresh("fkg_t4", "fkg_t3", "fkg_t2", "fkg_t1")
    exec("CREATE TABLE fkg_t1(i1 INT UNIQUE)")
    exec("INSERT INTO fkg_t1 VALUES (1), (2), (3), (4)")
    exec("CREATE TABLE fkg_t2(i2 INT PRIMARY KEY, FOREIGN KEY (i2) REFERENCES fkg_t1(i1))")
    exec("INSERT INTO fkg_t2 VALUES (1), (2), (3)")
    exec("CREATE TABLE fkg_t3(i3 INT UNIQUE, FOREIGN KEY (i3) REFERENCES fkg_t2(i2))")
    exec("INSERT INTO fkg_t3 VALUES (1), (2)")
    assert(err("INSERT INTO fkg_t2 VALUES (5)").contains("foreign key"))
    assert(err("INSERT INTO fkg_t3 VALUES (4)").contains("foreign key"))
    assert(err("DELETE FROM fkg_t1 WHERE i1 = 1").contains("still referenced"))
    exec("DELETE FROM fkg_t1 WHERE i1 = 4") // unreferenced: fine
    assert(err("DROP TABLE fkg_t1").contains("main key table"))
    assert(err("UPDATE fkg_t1 SET i1 = 99 WHERE i1 = 2").contains("still referenced"))
    fresh("fkg_t3", "fkg_t2", "fkg_t1")
  }

  test("FK error message carries the parent key (fk_19469)") {
    fresh("fkg_a", "fkg_b")
    exec("CREATE TABLE fkg_b(b1 INT, b2 INT, PRIMARY KEY (b1, b2))")
    exec("INSERT INTO fkg_b VALUES (1, 2)")
    exec("CREATE TABLE fkg_a(a5 INT, a6 INT, FOREIGN KEY (a5, a6) REFERENCES fkg_b(b1, b2))")
    val m = err("INSERT INTO fkg_a VALUES (1, 2), (4, 5)")
    assert(m.contains("\"b1: 4, b2: 5\"") && m.contains("does not exist"))
    // and the whole batch was rejected, not just the bad row
    assert(spark.table("fkg_a").count() == 0)
    fresh("fkg_a", "fkg_b")
  }

  test("self-referencing FK is eagerly checked (test_fk_self_referencing)") {
    fresh("fkg_emp")
    exec("CREATE TABLE fkg_emp(id INT PRIMARY KEY, mgr INT, FOREIGN KEY (mgr) REFERENCES fkg_emp(id))")
    exec("INSERT INTO fkg_emp VALUES (1, NULL)")
    assert(err("INSERT INTO fkg_emp VALUES (4, 4)").contains("foreign key"))
    exec("INSERT INTO fkg_emp VALUES (2, 1)")
    assert(err("DELETE FROM fkg_emp WHERE id = 1").contains("foreign key"))
    assert(err("TRUNCATE fkg_emp").contains("foreign key"))
    exec("DELETE FROM fkg_emp WHERE id = 2")
    exec("DELETE FROM fkg_emp WHERE id = 1")
    fresh("fkg_emp")
  }

  test("generated columns chain and follow renames (referencing_gencols, rename)") {
    fresh("fkg_gen")
    exec("CREATE TABLE fkg_gen(x INT, d1 INT AS (x + 1), d2 INT AS (d1 * 2))")
    exec("INSERT INTO fkg_gen VALUES (1), (2)")
    assert(spark.sql("SELECT d2 FROM fkg_gen ORDER BY x").collect().map(_.getInt(0)).toSeq
      == Seq(4, 6))
    exec("ALTER TABLE fkg_gen RENAME COLUMN x TO y")
    exec("INSERT INTO fkg_gen VALUES (9)")
    assert(spark.sql("SELECT d2 FROM fkg_gen WHERE y = 9").collect().head.getInt(0) == 20)
    val tc = Constraints.of(spark, "fkg_gen").get
    assert(tc.generated.exists(g => g.expr.toLowerCase.contains("y + 1")))
    fresh("fkg_gen")
  }
}
