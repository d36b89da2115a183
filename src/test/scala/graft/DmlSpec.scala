package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.TableIdentifier
import graft.engine.Sql
import graft.functions.{Constraints, Dml}

/** Copy-on-write DML (graft.functions.Dml): UPDATE / DELETE / TRUNCATE /
  * MERGE INTO semantics pinned by the reference suites
  * (test/sql/update/test_update.test, update_from_multi_match.test,
  * test/sql/delete/delete_query_node.test, test/sql/merge/merge_into.test,
  * merge_multi_match_error.test, merge_into_insert_star.test). */
class DmlSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark

  private def sql(s: String) = spark.sql(s).collect()
  private def dml(s: String) = Dml.execute(spark, s)
  private def rows(s: String): Seq[Seq[Any]] =
    spark.sql(s).collect().toSeq.map(_.toSeq)

  test("matches() recognizes DML heads, with and without CTE prefixes") {
    assert(Dml.matches("UPDATE t SET a = 1"))
    assert(Dml.matches("  delete from t where a = 1"))
    assert(Dml.matches("MERGE INTO t USING s ON t.a = s.a WHEN MATCHED THEN DELETE"))
    assert(Dml.matches("WITH x AS (SELECT 1 AS a) MERGE INTO t USING x ON false WHEN MATCHED THEN DELETE"))
    assert(!Dml.matches("SELECT * FROM t"))
    assert(!Dml.matches("WITH x AS (SELECT 1) SELECT * FROM x"))
    assert(!Dml.matches("CREATE TABLE t(a INT)"))
    assert(!Dml.matches("INSERT INTO t VALUES (1)"))
  }

  test("UPDATE: predicate-only (map path), count, and no-predicate forms") {
    sql("DROP TABLE IF EXISTS dml_u1")
    sql("CREATE TABLE dml_u1(a INT, b STRING) USING parquet")
    sql("INSERT INTO dml_u1 VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    val c = dml("UPDATE dml_u1 SET b = 'hit' WHERE a >= 2").head().getLong(0)
    assert(c == 2)
    assert(rows("SELECT a, b FROM dml_u1 ORDER BY a") ==
      Seq(Seq(1, "x"), Seq(2, "hit"), Seq(3, "hit")))
    val all = dml("UPDATE dml_u1 SET a = a * 10").head().getLong(0)
    assert(all == 3)
    assert(rows("SELECT a FROM dml_u1 ORDER BY a") == Seq(Seq(10), Seq(20), Seq(30)))
  }

  test("UPDATE: tuple assignment, RHS sees OLD values, qualified SET rejected") {
    sql("DROP TABLE IF EXISTS dml_u2")
    sql("CREATE TABLE dml_u2(a INT, b INT) USING parquet")
    sql("INSERT INTO dml_u2 VALUES (1, 10)")
    dml("UPDATE dml_u2 SET (a, b) = (b, a)") // swap: RHS over old row
    assert(rows("SELECT a, b FROM dml_u2") == Seq(Seq(10, 1)))
    dml("UPDATE dml_u2 SET (a, b) = 7")
    assert(rows("SELECT a, b FROM dml_u2") == Seq(Seq(7, 7)))
    val e1 = intercept[IllegalArgumentException](dml("UPDATE dml_u2 SET dml_u2.a = 1"))
    assert(e1.getMessage.contains("Qualified column names"))
    val e2 = intercept[IllegalArgumentException](dml("UPDATE dml_u2 SET nope = 1"))
    assert(e2.getMessage.contains("not found"))
  }

  test("UPDATE .. FROM: each target row updated at most once on multi-match") {
    sql("DROP TABLE IF EXISTS dml_t"); sql("DROP TABLE IF EXISTS dml_s")
    sql("CREATE TABLE dml_t(id INT, v INT) USING parquet")
    sql("INSERT INTO dml_t VALUES (1, 0), (2, 0), (9, -5)")
    sql("CREATE TABLE dml_s(id INT, v INT) USING parquet")
    sql("INSERT INTO dml_s VALUES (1, 10), (1, 20), (2, 30)")
    val c = dml("UPDATE dml_t SET v = dml_s.v FROM dml_s WHERE dml_t.id = dml_s.id")
      .head().getLong(0)
    assert(c == 2)
    assert(rows("SELECT count(*) FROM dml_t") == Seq(Seq(3L)))
    val r1 = rows("SELECT v FROM dml_t WHERE id = 1").head.head.asInstanceOf[Int]
    assert(r1 == 10 || r1 == 20)
    assert(rows("SELECT v FROM dml_t WHERE id = 2") == Seq(Seq(30)))
    assert(rows("SELECT v FROM dml_t WHERE id = 9") == Seq(Seq(-5)))
  }

  test("UPDATE: RETURNING yields new values of affected rows; CTE prefix binds") {
    sql("DROP TABLE IF EXISTS dml_u3")
    sql("CREATE TABLE dml_u3(a INT, b STRING) USING parquet")
    sql("INSERT INTO dml_u3 VALUES (1, 'x'), (5, 'y')")
    val r = dml("UPDATE dml_u3 SET a = a + 1 WHERE a = 5 RETURNING a, b")
      .collect().map(_.toSeq).toSeq
    assert(r == Seq(Seq(6, "y")))
    val c = dml("WITH nv AS (SELECT 100 AS na, 1 AS oa) " +
      "UPDATE dml_u3 SET a = nv.na FROM nv WHERE dml_u3.a = nv.oa").head().getLong(0)
    assert(c == 1)
    assert(rows("SELECT a FROM dml_u3 ORDER BY a") == Seq(Seq(6), Seq(100)))
  }

  test("UPDATE: subquery predicate routes through the row-id path") {
    sql("DROP TABLE IF EXISTS dml_u4")
    sql("CREATE TABLE dml_u4(a INT) USING parquet")
    sql("INSERT INTO dml_u4 VALUES (1), (2), (3)")
    val c = dml("UPDATE dml_u4 SET a = 0 WHERE a IN (SELECT max(a) FROM dml_u4)")
      .head().getLong(0)
    assert(c == 1)
    assert(rows("SELECT a FROM dml_u4 ORDER BY a") == Seq(Seq(0), Seq(1), Seq(2)))
  }

  test("DELETE: predicate, NULL predicate keeps row, USING, RETURNING old rows") {
    sql("DROP TABLE IF EXISTS dml_d1")
    sql("CREATE TABLE dml_d1(a INT, b STRING) USING parquet")
    sql("INSERT INTO dml_d1 VALUES (1, 'x'), (2, 'y'), (NULL, 'n')")
    val c = dml("DELETE FROM dml_d1 WHERE a = 1").head().getLong(0)
    assert(c == 1)
    // NULL predicate row survives (deleted only when TRUE)
    assert(rows("SELECT count(*) FROM dml_d1") == Seq(Seq(2L)))
    val r = dml("DELETE FROM dml_d1 WHERE a = 2 RETURNING b").collect().map(_.getString(0))
    assert(r.toSeq == Seq("y"))
    sql("DROP TABLE IF EXISTS dml_d2")
    sql("CREATE TABLE dml_d2(id INT) USING parquet")
    sql("INSERT INTO dml_d2 VALUES (999)") // no match for remaining NULL row
    val c2 = dml("DELETE FROM dml_d1 USING dml_d2 WHERE dml_d1.a = dml_d2.id")
      .head().getLong(0)
    assert(c2 == 0)
    val c3 = dml("DELETE FROM dml_d1").head().getLong(0) // delete all
    assert(c3 == 1)
    assert(rows("SELECT count(*) FROM dml_d1") == Seq(Seq(0L)))
  }

  test("MERGE: update + insert with counts (reference merge_into.test shape)") {
    sql("DROP TABLE IF EXISTS dml_stock"); sql("DROP TABLE IF EXISTS dml_buy")
    sql("CREATE TABLE dml_stock(item_id INT, balance INT) USING parquet")
    sql("CREATE TABLE dml_buy(item_id INT, volume INT) USING parquet")
    sql("INSERT INTO dml_buy VALUES (10, 1000), (30, 300)")
    // seed via MERGE with a CTE source and ON FALSE
    val c0 = dml("WITH init(item_id, balance) AS (SELECT * FROM VALUES (10, 2200), (20, 1900)) " +
      "MERGE INTO dml_stock USING init ON FALSE " +
      "WHEN MATCHED THEN DO NOTHING " +
      "WHEN NOT MATCHED THEN INSERT VALUES (init.item_id, init.balance)")
      .head().getLong(0)
    assert(c0 == 2)
    val c1 = dml("MERGE INTO dml_stock AS s USING dml_buy AS b ON s.item_id = b.item_id " +
      "WHEN MATCHED THEN UPDATE SET balance = balance + b.volume " +
      "WHEN NOT MATCHED THEN INSERT VALUES (b.item_id, b.volume)").head().getLong(0)
    assert(c1 == 2)
    assert(rows("SELECT item_id, balance FROM dml_stock ORDER BY item_id") ==
      Seq(Seq(10, 3200), Seq(20, 1900), Seq(30, 300)))
  }

  test("MERGE: conditional clauses in order, DELETE, ERROR action") {
    sql("DROP TABLE IF EXISTS dml_sale")
    sql("CREATE TABLE dml_sale(item_id INT, volume INT) USING parquet")
    sql("INSERT INTO dml_sale VALUES (10, 2200), (20, 1900)")
    // dml_stock from previous test: (10,3200),(20,1900),(30,300)
    val c = dml("MERGE INTO dml_stock USING dml_sale ON dml_stock.item_id = dml_sale.item_id " +
      "WHEN MATCHED AND dml_sale.volume > balance THEN ERROR " +
      "WHEN MATCHED AND dml_sale.volume = balance THEN DELETE " +
      "WHEN MATCHED AND TRUE THEN UPDATE SET balance = balance - dml_sale.volume " +
      "WHEN MATCHED THEN ERROR " +
      "WHEN NOT MATCHED THEN ERROR").head().getLong(0)
    assert(c == 2)
    assert(rows("SELECT item_id, balance FROM dml_stock ORDER BY item_id") ==
      Seq(Seq(10, 1000), Seq(30, 300)))
    // ERROR action fires with an evaluated message
    val e = intercept[RuntimeException](dml(
      "MERGE INTO dml_stock USING dml_sale ON dml_stock.item_id = dml_sale.item_id " +
        "WHEN MATCHED AND dml_sale.volume >= balance THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET balance = balance - dml_sale.volume " +
        "WHEN NOT MATCHED THEN ERROR CONCAT('Sale item ', dml_sale.item_id, ' not found')"))
    assert(e.getMessage.contains("Sale item 20 not found"))
    // failed merge left the table untouched
    assert(rows("SELECT item_id, balance FROM dml_stock ORDER BY item_id") ==
      Seq(Seq(10, 1000), Seq(30, 300)))
  }

  test("MERGE: cardinality error when one target row matched twice by an action") {
    sql("DROP TABLE IF EXISTS dml_mm_t"); sql("DROP TABLE IF EXISTS dml_mm_s")
    sql("CREATE TABLE dml_mm_t(k INT, v INT) USING parquet")
    sql("INSERT INTO dml_mm_t VALUES (1, 10)")
    sql("CREATE TABLE dml_mm_s(k INT, v INT) USING parquet")
    sql("INSERT INTO dml_mm_s VALUES (1, 100), (1, 200)")
    val e = intercept[RuntimeException](dml(
      "MERGE INTO dml_mm_t USING dml_mm_s ON dml_mm_t.k = dml_mm_s.k " +
        "WHEN MATCHED THEN UPDATE SET v = dml_mm_s.v"))
    assert(e.getMessage.contains("cannot affect the same target row more than once"))
    assert(rows("SELECT k, v FROM dml_mm_t") == Seq(Seq(1, 10))) // unchanged
    // conditional actions narrowing to one match succeed
    val c = dml("MERGE INTO dml_mm_t USING dml_mm_s ON dml_mm_t.k = dml_mm_s.k " +
      "WHEN MATCHED AND dml_mm_s.v = 200 THEN UPDATE SET v = dml_mm_s.v").head().getLong(0)
    assert(c == 1)
    assert(rows("SELECT k, v FROM dml_mm_t") == Seq(Seq(1, 200)))
  }

  test("MERGE: USING(cols) join, bare UPDATE/INSERT by position, BY SOURCE delete") {
    sql("DROP TABLE IF EXISTS dml_bs")
    sql("CREATE TABLE dml_bs(item_id INT, balance INT) USING parquet")
    sql("INSERT INTO dml_bs VALUES (5, 10), (10, 20), (20, 30)")
    val c = dml("MERGE INTO dml_bs USING (VALUES (5, 20), (10, 30)) na(item_id, balance) USING (item_id) " +
      "WHEN MATCHED THEN UPDATE " +
      "WHEN NOT MATCHED BY TARGET THEN INSERT " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE").head().getLong(0)
    assert(c == 3)
    assert(rows("SELECT item_id, balance FROM dml_bs ORDER BY item_id") ==
      Seq(Seq(5, 20), Seq(10, 30)))
  }

  test("MERGE: INSERT BY NAME fills missing columns; positional arity errors") {
    sql("DROP TABLE IF EXISTS dml_in")
    sql("CREATE TABLE dml_in(item_id INT, balance INT) USING parquet")
    val c = dml("MERGE INTO dml_in USING (VALUES (7, 0)) na(balance, item_id) USING (item_id) " +
      "WHEN NOT MATCHED THEN INSERT BY NAME").head().getLong(0)
    assert(c == 1)
    assert(rows("SELECT item_id, balance FROM dml_in") == Seq(Seq(0, 7)))
    val c2 = dml("MERGE INTO dml_in USING (VALUES (12)) na(item_id) USING (item_id) " +
      "WHEN NOT MATCHED THEN INSERT BY NAME").head().getLong(0)
    assert(c2 == 1) // missing balance -> NULL (no declared default)
    assert(rows("SELECT balance FROM dml_in WHERE item_id = 12") == Seq(Seq(null)))
    val e = intercept[IllegalArgumentException](dml(
      "MERGE INTO dml_in USING (SELECT 3 AS id) up ON (up.id = dml_in.item_id) " +
        "WHEN NOT MATCHED THEN INSERT"))
    assert(e.getMessage.contains("columns but 1 values were supplied"))
  }

  test("MERGE: binder validations (no WHEN, duplicate unconditional, view target)") {
    intercept[IllegalArgumentException](dml(
      "MERGE INTO dml_in USING dml_bs ON (dml_bs.item_id = dml_in.item_id)"))
    val e = intercept[IllegalArgumentException](dml(
      "MERGE INTO dml_in USING dml_bs ON (dml_bs.item_id = dml_in.item_id) " +
        "WHEN NOT MATCHED THEN INSERT BY NAME WHEN NOT MATCHED THEN ERROR"))
    assert(e.getMessage.contains("Unconditional"))
    sql("CREATE OR REPLACE TEMP VIEW dml_view AS SELECT 42 AS item_id")
    intercept[IllegalArgumentException](dml(
      "MERGE INTO dml_view USING dml_bs ON (dml_bs.item_id = dml_view.item_id) " +
        "WHEN NOT MATCHED THEN INSERT BY NAME"))
  }

  test("MERGE: whole-row alias comparison (t IS DISTINCT FROM q)") {
    sql("DROP TABLE IF EXISTS dml_rr")
    sql("CREATE TABLE dml_rr(tick STRING, figi STRING) USING parquet")
    sql("INSERT INTO dml_rr VALUES ('p', 'old')")
    val c = dml("MERGE INTO dml_rr AS t USING (SELECT 'p' AS tick, 'new' AS figi) AS q " +
      "ON t.tick = q.tick " +
      "WHEN MATCHED AND t IS DISTINCT FROM q THEN UPDATE " +
      "WHEN NOT MATCHED THEN INSERT").head().getLong(0)
    assert(c == 1)
    assert(rows("SELECT tick, figi FROM dml_rr") == Seq(Seq("p", "new")))
    // idempotent second run: rows identical -> no update
    val c2 = dml("MERGE INTO dml_rr AS t USING (SELECT 'p' AS tick, 'new' AS figi) AS q " +
      "ON t.tick = q.tick " +
      "WHEN MATCHED AND t IS DISTINCT FROM q THEN UPDATE " +
      "WHEN NOT MATCHED THEN INSERT").head().getLong(0)
    assert(c2 == 0)
  }

  test("INSERT: RETURNING, DEFAULT VALUES, CTE-prefixed") {
    sql("DROP TABLE IF EXISTS dml_ins")
    sql("CREATE TABLE dml_ins(a INT, b STRING DEFAULT 'dflt') USING parquet")
    val r = dml("INSERT INTO dml_ins VALUES (4, 'bar') RETURNING a, b")
      .collect().map(_.toSeq).toSeq
    assert(r == Seq(Seq(4, "bar")))
    val r2 = dml("WITH v AS (SELECT 5 AS a) INSERT INTO dml_ins (a) SELECT * FROM v RETURNING b")
      .collect().map(_.getString(0)).toSeq
    assert(r2 == Seq("dflt"))
    dml("INSERT INTO dml_ins DEFAULT VALUES")
    assert(rows("SELECT count(*) FROM dml_ins WHERE a IS NULL AND b = 'dflt'") == Seq(Seq(1L)))
    assert(rows("SELECT count(*) FROM dml_ins") == Seq(Seq(3L)))
  }

  test("TRUNCATE empties the table") {
    sql("DROP TABLE IF EXISTS dml_tr")
    sql("CREATE TABLE dml_tr(a INT) USING parquet")
    sql("INSERT INTO dml_tr VALUES (1), (2)")
    dml("TRUNCATE dml_tr")
    assert(rows("SELECT count(*) FROM dml_tr") == Seq(Seq(0L)))
  }

  // ---- write-once commit: staged write, checks on the written files,
  // catalog swap last ----

  private def meta(t: String) =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t))

  /** What a commit could leave behind for table `t`: staging catalog
    * entries and directories beside the table's own (its earlier or
    * unswapped versions). */
  private def leftovers(t: String): Seq[String] = {
    val loc = new java.io.File(meta(t).location)
    val base = loc.getName.replaceAll("__graft_v\\w+$", "")
    spark.sessionState.catalog.listTables("default", "__graft_stage_*").map(_.table) ++
      loc.getParentFile.listFiles().toSeq.map(_.getName)
        .filter(n => n != loc.getName && (n == base || n.startsWith(base + "__graft_v")))
  }

  private def fresh(names: String*): Unit = names.foreach { n =>
    Constraints.unregister(spark, n)
    sql(s"DROP TABLE IF EXISTS $n")
  }

  private def exec(s: String) = Sql.execute(spark, s).collect()

  test("commit: a statement moves the table to a fresh directory and removes the old one") {
    fresh("dml_mv")
    sql("CREATE TABLE dml_mv(a INT) USING parquet")
    sql("INSERT INTO dml_mv VALUES (1), (2)")
    val loc0 = meta("dml_mv").location
    assert(dml("UPDATE dml_mv SET a = a + 1 WHERE a = 2").head().getLong(0) == 1)
    val loc1 = meta("dml_mv").location
    assert(loc1 != loc0)
    assert(!new java.io.File(loc0).exists())
    assert(leftovers("dml_mv").isEmpty)
    assert(dml("DELETE FROM dml_mv WHERE a = 1").head().getLong(0) == 1)
    assert(!new java.io.File(loc1).exists())
    assert(leftovers("dml_mv").isEmpty)
    assert(rows("SELECT a FROM dml_mv") == Seq(Seq(3)))
  }

  test("commit: a statement rejected after its staged write leaves the table as it was") {
    def unchanged(t: String, order: String)(stmt: => Unit): Unit = {
      val before = rows(s"SELECT * FROM $t ORDER BY $order")
      val loc = meta(t).location
      stmt
      assert(rows(s"SELECT * FROM $t ORDER BY $order") == before)
      assert(meta(t).location == loc)
      assert(leftovers(t).isEmpty)
    }
    // UPDATE creating a duplicate PRIMARY KEY
    fresh("dml_rj_pk")
    exec("CREATE TABLE dml_rj_pk(k INT PRIMARY KEY, v INT)")
    exec("INSERT INTO dml_rj_pk VALUES (1, 10), (2, 20)")
    exec("UPDATE dml_rj_pk SET v = v + 1 WHERE k = 1") // the table now lives in a versioned directory
    unchanged("dml_rj_pk", "k") {
      val e = intercept[IllegalArgumentException](exec("UPDATE dml_rj_pk SET k = 1"))
      assert(e.getMessage.contains("violates primary key constraint"))
    }
    // MERGE cardinality error
    fresh("dml_rj_t", "dml_rj_s")
    sql("CREATE TABLE dml_rj_t(k INT, v INT) USING parquet")
    sql("INSERT INTO dml_rj_t VALUES (1, 10), (2, 20)")
    sql("CREATE TABLE dml_rj_s(k INT, v INT) USING parquet")
    sql("INSERT INTO dml_rj_s VALUES (1, 100), (1, 200)")
    unchanged("dml_rj_t", "k") {
      val e = intercept[RuntimeException](dml(
        "MERGE INTO dml_rj_t USING dml_rj_s ON dml_rj_t.k = dml_rj_s.k " +
          "WHEN MATCHED THEN UPDATE SET v = dml_rj_s.v WHEN NOT MATCHED THEN INSERT VALUES (9, 9)"))
      assert(e.getMessage.contains("cannot affect the same target row more than once"))
    }
    // DELETE of a parent key a FOREIGN KEY still references
    fresh("dml_rj_c", "dml_rj_p")
    exec("CREATE TABLE dml_rj_p(k INT PRIMARY KEY)")
    exec("INSERT INTO dml_rj_p VALUES (1), (2)")
    exec("CREATE TABLE dml_rj_c(r INT, FOREIGN KEY (r) REFERENCES dml_rj_p(k))")
    exec("INSERT INTO dml_rj_c VALUES (1)")
    unchanged("dml_rj_p", "k") {
      val e = intercept[IllegalArgumentException](exec("DELETE FROM dml_rj_p WHERE k = 1"))
      assert(e.getMessage.contains("still referenced"))
    }
    fresh("dml_rj_c", "dml_rj_p")
  }

  test("commit: affected-row counts (NULL predicates, constant predicates, empty tables)") {
    fresh("dml_cnt")
    sql("CREATE TABLE dml_cnt(a INT, b INT) USING parquet")
    sql("INSERT INTO dml_cnt VALUES (1, 1), (2, NULL), (3, 3)")
    // the NULL-predicate row is neither updated nor counted
    assert(dml("UPDATE dml_cnt SET a = a + 10 WHERE b > 1").head().getLong(0) == 1)
    assert(dml("UPDATE dml_cnt SET a = a + 100 WHERE b IN (SELECT 1)").head().getLong(0) == 1)
    // ... nor deleted
    assert(dml("DELETE FROM dml_cnt WHERE b < 2").head().getLong(0) == 1)
    assert(rows("SELECT a, b FROM dml_cnt ORDER BY a") == Seq(Seq(2, null), Seq(13, 3)))
    assert(dml("DELETE FROM dml_cnt WHERE false").head().getLong(0) == 0)
    assert(dml("DELETE FROM dml_cnt WHERE 1 = 1").head().getLong(0) == 2)
    assert(dml("UPDATE dml_cnt SET a = 0").head().getLong(0) == 0)
    assert(dml("DELETE FROM dml_cnt").head().getLong(0) == 0)
    assert(rows("SELECT count(*) FROM dml_cnt") == Seq(Seq(0L)))
  }

  test("commit: UPDATE of a table with a generated column counts and recomputes") {
    fresh("dml_gen")
    exec("CREATE TABLE dml_gen(a INT, b INT GENERATED ALWAYS AS (a * 2) VIRTUAL)")
    exec("INSERT INTO dml_gen (a) VALUES (1), (2), (3)")
    assert(dml("UPDATE dml_gen SET a = a + 10 WHERE a >= 2").head().getLong(0) == 2)
    assert(rows("SELECT a, b FROM dml_gen ORDER BY a") ==
      Seq(Seq(1, 2), Seq(12, 24), Seq(13, 26)))
    fresh("dml_gen")
  }

  test("commit: UPDATE keeps DEFAULT, VARCHAR(n) and TBLPROPERTIES; DROP then CREATE reuses the name") {
    fresh("dml_md")
    sql("CREATE TABLE dml_md(a VARCHAR(3), b INT DEFAULT 7) USING parquet TBLPROPERTIES ('purpose' = 'etl')")
    sql("INSERT INTO dml_md VALUES ('ab', 1)")
    assert(dml("UPDATE dml_md SET b = 2").head().getLong(0) == 1)
    assert(meta("dml_md").properties.get("purpose") == Some("etl"))
    sql("INSERT INTO dml_md (a) VALUES ('cd')")
    assert(rows("SELECT a, b FROM dml_md ORDER BY a") == Seq(Seq("ab", 2), Seq("cd", 7)))
    val e = intercept[Exception](sql("INSERT INTO dml_md VALUES ('abcd', 1)"))
    assert(e.getMessage.contains("EXCEED_LIMIT_LENGTH"))
    sql("DROP TABLE dml_md")
    sql("CREATE TABLE dml_md(x INT) USING parquet")
    sql("INSERT INTO dml_md VALUES (5)")
    assert(rows("SELECT * FROM dml_md") == Seq(Seq(5)))
  }

  test("commit: an EXTERNAL table keeps its LOCATION, which holds the new rows") {
    fresh("dml_ext", "dml_ext_s")
    val dir = java.nio.file.Files.createTempDirectory("dml_ext").toString
    sql(s"CREATE TABLE dml_ext(k INT, v INT) USING parquet LOCATION '$dir'")
    sql("INSERT INTO dml_ext VALUES (1, 1), (2, 2)")
    val loc = meta("dml_ext").location
    def files = spark.read.parquet(dir).collect().toSeq.map(_.toSeq).sortBy(_.head.toString)
    assert(dml("UPDATE dml_ext SET v = 10 WHERE k = 1").head().getLong(0) == 1)
    assert(meta("dml_ext").location == loc)
    assert(files == Seq(Seq(1, 10), Seq(2, 2)))
    assert(leftovers("dml_ext").isEmpty)
    // a rejected statement does not touch the directory
    sql("CREATE TABLE dml_ext_s(k INT, v INT) USING parquet")
    sql("INSERT INTO dml_ext_s VALUES (2, 100), (2, 200)")
    intercept[RuntimeException](dml("MERGE INTO dml_ext USING dml_ext_s ON dml_ext.k = dml_ext_s.k " +
      "WHEN MATCHED THEN UPDATE SET v = dml_ext_s.v"))
    assert(meta("dml_ext").location == loc)
    assert(files == Seq(Seq(1, 10), Seq(2, 2)))
    assert(leftovers("dml_ext").isEmpty)
    fresh("dml_ext", "dml_ext_s")
    assert(new java.io.File(dir).exists()) // DROP of an EXTERNAL table keeps its files
  }

  test("commit: a partitioned table keeps its directory and partitions") {
    fresh("dml_part")
    sql("CREATE TABLE dml_part(a INT, b INT) USING parquet PARTITIONED BY (b)")
    sql("INSERT INTO dml_part VALUES (1, 1), (2, 2), (3, 2)")
    val loc = meta("dml_part").location
    assert(dml("UPDATE dml_part SET a = a * 10 WHERE b = 2").head().getLong(0) == 2)
    assert(dml("DELETE FROM dml_part WHERE a = 1").head().getLong(0) == 1)
    assert(meta("dml_part").location == loc)
    assert(rows("SELECT a, b FROM dml_part ORDER BY a") == Seq(Seq(20, 2), Seq(30, 2)))
    assert(leftovers("dml_part").isEmpty)
    fresh("dml_part")
  }

  test("commit: a cached table reads its new rows after UPDATE") {
    fresh("dml_cached")
    sql("CREATE TABLE dml_cached(a INT) USING parquet")
    sql("INSERT INTO dml_cached VALUES (1), (2)")
    sql("CACHE TABLE dml_cached")
    assert(rows("SELECT sum(a) FROM dml_cached") == Seq(Seq(3L)))
    dml("UPDATE dml_cached SET a = a * 10")
    assert(rows("SELECT sum(a) FROM dml_cached") == Seq(Seq(30L)))
    sql("UNCACHE TABLE dml_cached")
    fresh("dml_cached")
  }
}
