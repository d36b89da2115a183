package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Sql
import graft.functions.{Constraints, Dml}

/** Constraint enforcement + INSERT ... ON CONFLICT upsert, pinned by the
  * reference suites (test/sql/constraints/test_not_null.test,
  * check/test_check.test, primarykey/test_primary_key.test,
  * unique/test_unique.test; test/sql/upsert/upsert_basic.test,
  * upsert_shorthand.test, upsert_conflict_target.test,
  * upsert_global_mixed_conflicts.test, upsert_unique_null.test,
  * upsert_returning.test, upsert_partial_update.test). */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark

  private def sql(s: String) = spark.sql(s).collect()
  private def ddl(s: String) = Constraints.executeDdl(spark, s)
  private def dml(s: String) = Dml.execute(spark, s)
  private def rows(s: String): Seq[Seq[Any]] =
    spark.sql(s).collect().toSeq.map(_.toSeq)
  private def err(s: String): String =
    intercept[Exception](Sql.execute(spark, s).collect()).getMessage

  private def fresh(name: String, createBody: String): Unit = {
    sql(s"DROP TABLE IF EXISTS $name")
    Constraints.unregister(spark, name)
    ddl(s"CREATE TABLE $name($createBody)")
  }

  // ---------------- constraints ----------------

  test("DDL: constraints register and the stripped table is created") {
    fresh("ups_ddl", "i INT PRIMARY KEY, j INT UNIQUE, k INT NOT NULL, " +
      "m INT CHECK(m < 100), n INT DEFAULT 7")
    val tc = Constraints.of(spark, "ups_ddl").get
    assert(tc.notNull.map(_.toLowerCase).toSet == Set("i", "k"))
    assert(tc.checks.size == 1 && tc.checks.head.contains("m < 100"))
    assert(tc.uniques.map(u => (u.cols.map(_.toLowerCase), u.isPk)).toSet ==
      Set((Seq("i"), true), (Seq("j"), false)))
    sql("INSERT INTO ups_ddl VALUES (1, 1, 1, 1, 1)") // table exists, no constraints in Spark DDL
  }

  test("DDL: table-level PRIMARY KEY (a, b) and CHECK; CHECK binder errors") {
    fresh("ups_ddl2", "a INT, b INT, c INT, PRIMARY KEY (a, b), CHECK (a + c < 10)")
    val tc = Constraints.of(spark, "ups_ddl2").get
    assert(tc.uniques.head.cols.map(_.toLowerCase) == Seq("a", "b"))
    assert(tc.notNull.map(_.toLowerCase).toSet == Set("a", "b"))
    // CHECK with a subquery / unknown column rejects at create
    sql("DROP TABLE IF EXISTS ups_bad")
    assertThrows[Exception](ddl("CREATE TABLE ups_bad(i INT CHECK(i > (SELECT 42)))"))
    assertThrows[Exception](ddl("CREATE TABLE ups_bad(i INT CHECK(zz < 10))"))
  }

  test("NOT NULL enforced on INSERT and UPDATE (test_not_null.test)") {
    fresh("ups_nn", "i INT NOT NULL")
    dml("INSERT INTO ups_nn VALUES (3)")
    assert(err("INSERT INTO ups_nn VALUES (NULL)").contains("NOT NULL constraint failed"))
    assert(err("UPDATE ups_nn SET i = NULL").contains("NOT NULL constraint failed"))
    dml("UPDATE ups_nn SET i = 4")
    assert(rows("SELECT i FROM ups_nn") == Seq(Seq(4)))
  }

  test("CHECK: NULL passes, FALSE fails atomically (test_check.test)") {
    fresh("ups_ck", "i INT CHECK(i < 5)")
    dml("INSERT INTO ups_ck VALUES (3)")
    assert(err("INSERT INTO ups_ck VALUES (7)").contains("CHECK constraint failed"))
    dml("INSERT INTO ups_ck VALUES (NULL)")
    // multi-row atomicity: nothing inserted when one row violates
    assert(err("INSERT INTO ups_ck VALUES (1), (9)").contains("CHECK constraint failed"))
    assert(rows("SELECT count(*) FROM ups_ck") == Seq(Seq(2L)))
  }

  test("PRIMARY KEY: duplicate key rejected, within batch and vs existing") {
    fresh("ups_pk", "a INT, b INT, c INT, PRIMARY KEY (a, b)")
    assert(err("INSERT INTO ups_pk VALUES (1, 2, 3), (1, 2, 3)")
      .contains("PRIMARY KEY or UNIQUE constraint violation: duplicate key"))
    dml("INSERT INTO ups_pk VALUES (1, 2, 3), (1, 4, 5)")
    assert(err("INSERT INTO ups_pk VALUES (1, 2, 9)")
      .contains("Duplicate key \"a: 1, b: 2\" violates primary key constraint."))
    assert(err("INSERT INTO ups_pk VALUES (NULL, 2, 9)")
      .contains("NOT NULL constraint failed"))
    assert(rows("SELECT count(*) FROM ups_pk") == Seq(Seq(2L)))
  }

  test("UNIQUE: NULLs do not participate (upsert_unique_null semantics)") {
    fresh("ups_uq", "a INT UNIQUE, b INT")
    dml("INSERT INTO ups_uq VALUES (3, 2), (1, 3)")
    dml("INSERT INTO ups_uq VALUES (NULL, 5)")
    dml("INSERT INTO ups_uq VALUES (NULL, 6)") // NULL never conflicts
    assert(err("INSERT INTO ups_uq VALUES (3, 9)")
      .contains("Duplicate key \"a: 3\" violates unique constraint."))
    assert(rows("SELECT count(*) FROM ups_uq") == Seq(Seq(4L)))
  }

  // ---------------- upsert ----------------

  test("ON CONFLICT (i) DO UPDATE: update conflicted, insert fresh (upsert_basic)") {
    fresh("ups_b", "i INT PRIMARY KEY, j INT UNIQUE, k INT")
    dml("INSERT INTO ups_b VALUES (1, 10, 1), (2, 20, 1), (3, 30, 2)")
    dml("INSERT INTO ups_b VALUES (3, 5, 1) ON CONFLICT (i) DO UPDATE SET i = i + 1")
    assert(rows("SELECT i, j, k FROM ups_b ORDER BY i") ==
      Seq(Seq(1, 10, 1), Seq(2, 20, 1), Seq(4, 30, 2)))
    dml("INSERT INTO ups_b VALUES (4, 30, 2) ON CONFLICT (i) DO UPDATE SET i = i - 1")
    // updating the PK onto an existing key is a constraint error
    assert(err("INSERT INTO ups_b VALUES (3, 30, 2) ON CONFLICT (i) DO UPDATE SET i = i - 2")
      .contains("violates primary key constraint"))
    // excluded.* refers to the VALUES row
    dml("INSERT INTO ups_b VALUES (3, 5, 1) ON CONFLICT (i) DO UPDATE SET k = k + excluded.k")
    assert(rows("SELECT i, j, k FROM ups_b ORDER BY i") ==
      Seq(Seq(1, 10, 1), Seq(2, 20, 1), Seq(3, 30, 3)))
    // conflict target not backed by an index is a binder error
    assert(err("INSERT INTO ups_b VALUES (3, 5, 1) ON CONFLICT (k) DO UPDATE SET k = excluded.k")
      .contains("not referenced by a UNIQUE/PRIMARY KEY"))
  }

  test("ON CONFLICT DO NOTHING: existing and inner conflicts skipped") {
    fresh("ups_n", "i INT PRIMARY KEY")
    dml("INSERT INTO ups_n VALUES (1)")
    dml("INSERT INTO ups_n SELECT 1 FROM range(2) ON CONFLICT DO NOTHING")
    assert(rows("SELECT i FROM ups_n") == Seq(Seq(1)))
    dml("INSERT INTO ups_n VALUES (1), (2), (2), (3) ON CONFLICT DO NOTHING")
    assert(rows("SELECT i FROM ups_n ORDER BY i") == Seq(Seq(1), Seq(2), Seq(3)))
  }

  test("global mixed conflicts: batch keeps LAST occurrence per key") {
    fresh("ups_g", "number INT PRIMARY KEY, str STRING")
    dml("INSERT INTO ups_g VALUES (1, 'd'), (3, 'nope'), (2, 'n')")
    dml("""INSERT INTO ups_g VALUES
          | (1, 'c'), (6, 'yep'), (3, 'abc'), (4, 'abc'), (7, 'tes'),
          | (2, 'b'), (1, 'c'), (5, 'abc'), (7, 'tes'), (2, 'b')
          |ON CONFLICT (number) DO UPDATE SET str = excluded.str || 'e'""".stripMargin)
    assert(rows("SELECT number, str FROM ups_g ORDER BY number") ==
      Seq(Seq(1, "ce"), Seq(2, "be"), Seq(3, "abce"), Seq(4, "abc"),
        Seq(5, "abc"), Seq(6, "yep"), Seq(7, "tes")))
  }

  test("DO UPDATE ... WHERE filters conflicts into DO NOTHING (upsert_partial_update)") {
    fresh("ups_w", "a INT PRIMARY KEY, b INT")
    dml("INSERT INTO ups_w VALUES (1,3), (2,2), (3,10), (4,3)")
    val c = dml("INSERT INTO ups_w VALUES (3,8), (2,2) ON CONFLICT (a) DO UPDATE SET b = b*2 WHERE b == excluded.b")
      .head().getLong(0)
    assert(c == 1) // the filtered conflict (a = 3) is not counted
    assert(rows("SELECT a, b FROM ups_w ORDER BY a") ==
      Seq(Seq(1, 3), Seq(2, 4), Seq(3, 10), Seq(4, 3)))
  }

  test("DO UPDATE ... WHERE: the count covers updated and inserted rows only") {
    fresh("ups_cnt", "k INT PRIMARY KEY, v INT")
    dml("INSERT INTO ups_cnt VALUES (1, 1), (2, 2)")
    val c = dml("INSERT INTO ups_cnt VALUES (1, 10), (2, 20), (3, 30) " +
      "ON CONFLICT (k) DO UPDATE SET v = excluded.v WHERE excluded.v > 15").head().getLong(0)
    assert(c == 2)
    assert(rows("SELECT k, v FROM ups_cnt ORDER BY k") == Seq(Seq(1, 1), Seq(2, 20), Seq(3, 30)))
  }

  test("shorthand: OR IGNORE / OR REPLACE; mixing with ON CONFLICT errors") {
    fresh("ups_s", "a INT, b INT UNIQUE")
    dml("INSERT INTO ups_s VALUES (1,2), (2,1)")
    dml("INSERT INTO ups_s VALUES (1,2) ON CONFLICT DO UPDATE SET a = excluded.a")
    assert(err("INSERT OR REPLACE INTO ups_s VALUES (4,3) ON CONFLICT DO NOTHING")
      .contains("You can not provide both OR"))
    dml("INSERT OR IGNORE INTO ups_s VALUES (1,2), (2,1)")
    dml("INSERT OR REPLACE INTO ups_s VALUES (5,2), (10,1)")
    assert(rows("SELECT a, b FROM ups_s ORDER BY b") ==
      Seq(Seq(10, 1), Seq(5, 2)))
    // multiple unique constraints: DO UPDATE requires a target
    fresh("ups_s2", "a INT UNIQUE, b INT UNIQUE")
    assert(err("INSERT OR REPLACE INTO ups_s2 VALUES (1,2)")
      .contains("Conflict target has to be provided"))
    // DO NOTHING without target covers every constraint
    fresh("ups_s3", "a INT, b INT UNIQUE, c INT UNIQUE, d INT UNIQUE")
    dml("INSERT INTO ups_s3 (b, c, d) VALUES (1, 2, 3), (2, 3, 1), (3, 1, 2)")
    dml("INSERT INTO ups_s3 (b, c, d) VALUES (3, 3, 3) ON CONFLICT DO NOTHING")
    assert(rows("SELECT count(*) FROM ups_s3") == Seq(Seq(3L)))
    assert(err("INSERT INTO ups_s3 (b,c,d) VALUES (3,3,3) ON CONFLICT DO UPDATE SET b = excluded.b")
      .contains("Conflict target has to be provided"))
    // no unique constraints at all
    fresh("ups_s4", "a INT NOT NULL")
    assert(err("INSERT INTO ups_s4 VALUES (1) ON CONFLICT DO NOTHING")
      .contains("There are no UNIQUE/PRIMARY KEY constraints"))
  }

  test("UNIQUE NULL keys never activate ON CONFLICT (upsert_unique_null)") {
    fresh("ups_un", "a INT UNIQUE, b INT")
    dml("INSERT INTO ups_un VALUES (3,2), (1,3)")
    dml("INSERT INTO ups_un(b) VALUES (5) ON CONFLICT (a) DO UPDATE SET b = 8")
    dml("INSERT INTO ups_un(b) VALUES (5) ON CONFLICT (a) DO UPDATE SET b = 8")
    assert(rows("SELECT a, b FROM ups_un ORDER BY b, a") ==
      Seq(Seq(3, 2), Seq(1, 3), Seq(null, 5), Seq(null, 5)))
  }

  test("RETURNING on upsert: inserted/updated rows only (upsert_returning)") {
    fresh("ups_r", "id BIGINT PRIMARY KEY, username STRING UNIQUE, email STRING")
    val r1 = dml("""INSERT INTO ups_r (id, username, email)
                   |VALUES (1, 'john_doe', 'john@example.com')
                   |ON CONFLICT (username) DO NOTHING RETURNING *""".stripMargin).collect()
    assert(r1.length == 1 && r1.head.getString(1) == "john_doe")
    val r2 = dml("""INSERT INTO ups_r (id, username, email)
                   |VALUES (1, 'john_doe', 'john@example.com')
                   |ON CONFLICT (username) DO NOTHING RETURNING *""".stripMargin).collect()
    assert(r2.isEmpty)
    val r3 = dml("""INSERT INTO ups_r (id, username, email)
                   |VALUES (1, 'john_doe', 'john_new@example.com'),
                   |       (2, 'not_john_doe', 'not_john_new@example.com')
                   |ON CONFLICT (id) DO UPDATE SET email = EXCLUDED.email
                   |WHERE EXCLUDED.email != 'john_new@example.com'
                   |RETURNING *""".stripMargin).collect()
    assert(r3.length == 1 && r3.head.getLong(0) == 2L)
  }

  test("UPDATE/MERGE on constrained tables verify before the swap") {
    fresh("ups_v", "i INT PRIMARY KEY, v INT CHECK(v >= 0)")
    dml("INSERT INTO ups_v VALUES (1, 1), (2, 2)")
    assert(err("UPDATE ups_v SET v = -1 WHERE i = 1").contains("CHECK constraint failed"))
    assert(err("UPDATE ups_v SET i = 2 WHERE i = 1")
      .contains("violates primary key constraint"))
    assert(rows("SELECT i, v FROM ups_v ORDER BY i") == Seq(Seq(1, 1), Seq(2, 2)))
  }
}
