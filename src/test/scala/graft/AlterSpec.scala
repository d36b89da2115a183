package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Sql
import graft.functions.{Constraints, Sequences}

/** ALTER TABLE column surface, pinned by the reference suites
  * (test/sql/alter/rename_col/test_rename_col.test, add_col/test_add_col
  * .test, drop_col/test_drop_col{,_failure,_check,_pk}.test,
  * alter_type/test_alter_type.test, default/{test_set_default,
  * drop_default}.test, alter_col/test_set_not_null.test,
  * add_pk/test_add_pk.test, rename_table/test_rename_table.test). */
class AlterSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark

  private def sql(s: String) = spark.sql(s).collect()
  private def exec(s: String) = Sql.execute(spark, s)
  private def rows(s: String): Seq[Seq[Any]] =
    spark.sql(s).collect().toSeq.map(_.toSeq)
  private def err(s: String): String =
    intercept[Exception](exec(s).collect()).getMessage

  private def fresh(name: String, body: String): Unit = {
    sql(s"DROP TABLE IF EXISTS $name")
    Constraints.unregister(spark, name)
    exec(s"CREATE TABLE $name($body)"): Unit
  }

  test("RENAME COLUMN renames, rejects missing/existing (test_rename_col)") {
    fresh("alt_rc", "i INT, j INT")
    exec("INSERT INTO alt_rc VALUES (1, 10), (2, 20)")
    exec("ALTER TABLE alt_rc RENAME COLUMN i TO k")
    assert(rows("SELECT k, j FROM alt_rc ORDER BY k") == Seq(Seq(1, 10), Seq(2, 20)))
    assert(err("ALTER TABLE alt_rc RENAME COLUMN nope TO z")
      .contains("does not have a column"))
    assert(err("ALTER TABLE alt_rc RENAME COLUMN k TO j")
      .contains("already has a column"))
  }

  test("a column rebuild keeps TBLPROPERTIES and VARCHAR(n) and leaves no staging entry") {
    sql("DROP TABLE IF EXISTS alt_md")
    sql("CREATE TABLE alt_md(a VARCHAR(3), b INT, c INT) USING parquet TBLPROPERTIES ('purpose' = 'etl')")
    sql("INSERT INTO alt_md VALUES ('ab', 1, 2)")
    val cat = spark.sessionState.catalog
    def meta = cat.getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("alt_md"))
    val loc0 = meta.location
    exec("ALTER TABLE alt_md RENAME COLUMN b TO bb")
    exec("ALTER TABLE alt_md DROP COLUMN c")
    assert(meta.properties.get("purpose") == Some("etl"))
    assert(rows("SELECT a, bb FROM alt_md") == Seq(Seq("ab", 1)))
    assert(intercept[Exception](sql("INSERT INTO alt_md VALUES ('abcd', 1)"))
      .getMessage.contains("EXCEED_LIMIT_LENGTH"))
    assert(cat.listTables("default", "__graft_stage_*").isEmpty)
    assert(!new java.io.File(loc0).exists())
    sql("DROP TABLE alt_md")
    // DROP removes the rebuilt directory: nothing of the table is left
    assert(!new java.io.File(loc0).getParentFile.list().exists(_.startsWith("alt_md")))
  }

  test("RENAME COLUMN follows into CHECK and key sets (test_rename_col_check)") {
    fresh("alt_rcc", "i INT CHECK(i < 10), j INT NOT NULL, UNIQUE(i, j)")
    exec("INSERT INTO alt_rcc VALUES (1, 2)")
    exec("ALTER TABLE alt_rcc RENAME COLUMN i TO k")
    val tc = Constraints.of(spark, "alt_rcc").get
    assert(tc.checks.head.toLowerCase.contains("k < 10"))
    assert(tc.uniques.head.cols.map(_.toLowerCase) == Seq("k", "j"))
    assert(err("INSERT INTO alt_rcc VALUES (100, 3)").contains("CHECK constraint failed"))
    exec("INSERT INTO alt_rcc VALUES (2, 3)")
  }

  test("ADD COLUMN: NULL fill, DEFAULT fill, duplicate errors (test_add_col)") {
    fresh("alt_ac", "i INT, j INT")
    exec("INSERT INTO alt_ac VALUES (1, 1), (2, 2)")
    exec("ALTER TABLE alt_ac ADD COLUMN k INTEGER")
    assert(rows("SELECT i, j, k FROM alt_ac ORDER BY i") ==
      Seq(Seq(1, 1, null), Seq(2, 2, null)))
    exec("ALTER TABLE alt_ac ADD COLUMN m INTEGER DEFAULT 7")
    assert(rows("SELECT i, m FROM alt_ac ORDER BY i") == Seq(Seq(1, 7), Seq(2, 7)))
    assert(err("ALTER TABLE alt_ac ADD COLUMN i INTEGER").contains("already exists"))
    exec("ALTER TABLE alt_ac ADD COLUMN IF NOT EXISTS i INTEGER") // no-op
    // future inserts see the declared default
    exec("INSERT INTO alt_ac (i, j, k) VALUES (3, 3, 3)")
    assert(rows("SELECT m FROM alt_ac WHERE i = 3") == Seq(Seq(7)))
  }

  test("ADD COLUMN with non-foldable default rebuilds per row (add_col_default_seq)") {
    Sequences.clear(spark)
    Sequences.execute(spark, "CREATE SEQUENCE alt_seq")
    fresh("alt_acs", "i INT")
    exec("INSERT INTO alt_acs VALUES (10), (20)")
    exec("ALTER TABLE alt_acs ADD COLUMN s BIGINT DEFAULT nextval('alt_seq')")
    assert(rows("SELECT s FROM alt_acs ORDER BY s").flatten == Seq(1L, 2L))
    exec("INSERT INTO alt_acs (i) VALUES (30)")
    assert(rows("SELECT s FROM alt_acs WHERE i = 30").flatten == Seq(3L))
  }

  test("DROP COLUMN: drops, dependency + last-column errors (test_drop_col*)") {
    fresh("alt_dc", "i INT, j INT")
    exec("INSERT INTO alt_dc VALUES (1, 1), (2, 2)")
    exec("ALTER TABLE alt_dc DROP COLUMN j")
    assert(rows("SELECT * FROM alt_dc ORDER BY i") == Seq(Seq(1), Seq(2)))
    assert(err("ALTER TABLE alt_dc DROP COLUMN zz").contains("does not have a column"))
    exec("ALTER TABLE alt_dc DROP COLUMN IF EXISTS zz") // no-op
    assert(err("ALTER TABLE alt_dc DROP COLUMN i").contains("only has one column"))

    fresh("alt_dc2", "id INT PRIMARY KEY, a STRING, b INT, UNIQUE(a, b), CHECK(id + b < 100)")
    assert(err("ALTER TABLE alt_dc2 DROP COLUMN a").contains("unique constraint"))
    assert(err("ALTER TABLE alt_dc2 DROP COLUMN id").contains("unique constraint"))
    assert(err("ALTER TABLE alt_dc2 DROP COLUMN b").contains("unique constraint"))

    // single-column CHECK is dropped with its column; cross-column blocks
    fresh("alt_dc3", "i INT, j INT CHECK(j < 10)")
    exec("ALTER TABLE alt_dc3 DROP COLUMN j")
    assert(Constraints.of(spark, "alt_dc3").get.checks.isEmpty)
    fresh("alt_dc4", "i INT, j INT, CHECK(i + j < 10)")
    assert(err("ALTER TABLE alt_dc4 DROP COLUMN j").contains("CHECK constraint"))
  }

  test("ALTER TYPE: cast, USING expr, omitted type needs USING (test_alter_type)") {
    fresh("alt_ty", "i INT, j INT")
    exec("INSERT INTO alt_ty VALUES (1, 1), (2, 2)")
    exec("ALTER TABLE alt_ty ALTER i SET DATA TYPE STRING")
    assert(spark.table("alt_ty").schema("i").dataType.typeName == "string")
    assert(rows("SELECT i FROM alt_ty WHERE i = '1'") == Seq(Seq("1")))
    exec("ALTER TABLE alt_ty ALTER i SET DATA TYPE INTEGER")
    assert(rows("SELECT i FROM alt_ty WHERE i = 1") == Seq(Seq(1)))
    exec("ALTER TABLE alt_ty ALTER COLUMN j TYPE BIGINT USING j * 10")
    assert(rows("SELECT j FROM alt_ty ORDER BY j") == Seq(Seq(10L), Seq(20L)))
    assert(err("ALTER TABLE alt_ty ALTER nope SET DATA TYPE INT")
      .contains("does not have a column"))
    assert(err("ALTER TABLE alt_ty ALTER j TYPE")
      .contains("Omitting the type"))
  }

  test("SET/DROP DEFAULT incl. sequence defaults (test_set_default, drop_default)") {
    fresh("alt_df", "i INT, j INT")
    exec("INSERT INTO alt_df VALUES (1, 1), (2, 2)")
    exec("ALTER TABLE alt_df ALTER j SET DEFAULT 3")
    exec("INSERT INTO alt_df (i) VALUES (3)")
    assert(rows("SELECT j FROM alt_df WHERE i = 3") == Seq(Seq(3)))
    exec("ALTER TABLE alt_df ALTER COLUMN j DROP DEFAULT")
    exec("INSERT INTO alt_df (i) VALUES (4)")
    assert(rows("SELECT j FROM alt_df WHERE i = 4") == Seq(Seq(null)))
    exec("ALTER TABLE alt_df ALTER COLUMN j DROP DEFAULT") // repeat = no-op
    assert(err("ALTER TABLE alt_df ALTER zz SET DEFAULT 3")
      .contains("does not have a column"))
    assert(err("ALTER TABLE alt_df ALTER zz DROP DEFAULT")
      .contains("does not have a column"))
    // sequence default (non-foldable for Spark DDL): metadata rebuild path
    Sequences.clear(spark)
    Sequences.execute(spark, "CREATE SEQUENCE alt_seq2")
    exec("ALTER TABLE alt_df ALTER j SET DEFAULT nextval('alt_seq2')")
    exec("INSERT INTO alt_df (i) VALUES (5), (6)")
    assert(rows("SELECT j FROM alt_df WHERE i IN (5, 6) ORDER BY j").flatten ==
      Seq(1, 2))
  }

  test("SET/DROP NOT NULL verify contents and update the registry (test_set_not_null)") {
    fresh("alt_nn", "i INT, j INT")
    exec("INSERT INTO alt_nn VALUES (1, 1), (2, 2)")
    exec("ALTER TABLE alt_nn ALTER COLUMN j SET NOT NULL")
    assert(err("INSERT INTO alt_nn VALUES (3, NULL)").contains("NOT NULL constraint failed"))
    exec("ALTER TABLE alt_nn ALTER COLUMN j SET NOT NULL") // idempotent
    exec("ALTER TABLE alt_nn ALTER COLUMN j DROP NOT NULL")
    exec("INSERT INTO alt_nn VALUES (3, NULL)")
    // SET NOT NULL on a column with NULLs fails
    assert(err("ALTER TABLE alt_nn ALTER COLUMN j SET NOT NULL")
      .contains("NOT NULL constraint failed"))
  }

  test("ADD PRIMARY KEY verifies contents then enforces (test_add_pk)") {
    fresh("alt_pk", "i INT, j INT")
    exec("INSERT INTO alt_pk VALUES (1, 1), (2, 2)")
    exec("ALTER TABLE alt_pk ADD PRIMARY KEY (i)")
    assert(err("INSERT INTO alt_pk VALUES (1, 9)").contains("constraint violation"))
    assert(err("ALTER TABLE alt_pk ADD PRIMARY KEY (j)").contains("already has a primary key"))
    fresh("alt_pk2", "i INT")
    exec("INSERT INTO alt_pk2 VALUES (1), (1)")
    assert(err("ALTER TABLE alt_pk2 ADD PRIMARY KEY (i)").contains("constraint violation"))
    fresh("alt_pk3", "i INT")
    exec("INSERT INTO alt_pk3 VALUES (NULL)")
    assert(err("ALTER TABLE alt_pk3 ADD PRIMARY KEY (i)").contains("NOT NULL"))
  }

  test("RENAME TO moves the table and its constraints (test_rename_table)") {
    sql("DROP TABLE IF EXISTS alt_rt")
    sql("DROP TABLE IF EXISTS alt_rt2")
    Constraints.unregister(spark, "alt_rt")
    Constraints.unregister(spark, "alt_rt2")
    exec("CREATE TABLE alt_rt(i INT PRIMARY KEY)")
    exec("INSERT INTO alt_rt VALUES (1)")
    exec("ALTER TABLE alt_rt RENAME TO alt_rt2")
    assert(rows("SELECT i FROM alt_rt2") == Seq(Seq(1)))
    assert(Constraints.of(spark, "alt_rt").isEmpty)
    assert(Constraints.of(spark, "alt_rt2").get.uniques.head.isPk)
    assert(err("INSERT INTO alt_rt2 VALUES (1)").contains("constraint violation"))
    sql("DROP TABLE IF EXISTS alt_rt2")
  }

  test("IF EXISTS soft-fails on a missing table; one command per statement") {
    sql("DROP TABLE IF EXISTS alt_missing")
    exec("ALTER TABLE IF EXISTS alt_missing ADD COLUMN x INT") // no-op
    assert(err("ALTER TABLE alt_missing ADD COLUMN x INT").contains("does not exist"))
    fresh("alt_one", "i INT")
    assert(err("ALTER TABLE alt_one ADD COLUMN j INT, ADD COLUMN k INT")
      .contains("one ALTER command"))
    // a DECIMAL(4,2) comma is not a command separator
    exec("ALTER TABLE alt_one ADD COLUMN d DECIMAL(4,2)")
    assert(spark.table("alt_one").schema("d").dataType.sql == "DECIMAL(4,2)")
  }

  test("ALTER TYPE preserves a declared DEFAULT through the rebuild") {
    fresh("alt_md", "i INT, j INT DEFAULT 9")
    exec("INSERT INTO alt_md VALUES (1, 1)")
    exec("ALTER TABLE alt_md ALTER i SET DATA TYPE BIGINT")
    exec("INSERT INTO alt_md (i) VALUES (2)")
    assert(rows("SELECT j FROM alt_md WHERE i = 2") == Seq(Seq(9)))
  }
}
