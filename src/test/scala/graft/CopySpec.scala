package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Sql
import graft.functions.{Copy, FileTables}

/** COPY ... TO/FROM (graft.functions.Copy) + file-path relations and the
  * read_csv family (graft.functions.FileTables), pinned to the reference
  * surface (physical_copy_to_file.cpp, test/sql/copy/csv/tsv_copy.test,
  * write_header_default.test, copy_to_overwrite.test). */
class CopySpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark

  private def sql(s: String) = Sql.execute(spark, s).collect()
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_copy_spec").toString

  test("COPY TO csv / FROM 'path' roundtrip with header + delimiter") {
    spark.sql("CREATE OR REPLACE TEMP VIEW cp_t AS " +
      "SELECT id, concat('n', id) AS name FROM range(5)")
    val dir = tmp()
    val cnt = Copy.execute(spark, s"COPY cp_t TO '$dir/t.tsv' WITH (DELIMITER '\t')")
      .head().getLong(0)
    assert(cnt == 5)
    val rows = sql(s"SELECT * FROM '$dir/t.tsv' ORDER BY id")
    assert(rows.length == 5 && rows.head.get(1) == "n0")
    // read_csv with explicit columns skips the sniffed header
    val rows2 = sql(s"SELECT * FROM read_csv('$dir/t.tsv', sep='\t', " +
      "columns={'id': 'BIGINT', 'name': 'VARCHAR'}) ORDER BY id")
    assert(rows2.length == 5 && rows2.head.getLong(0) == 0L)
  }

  test("COPY (query) TO parquet; extension infers format; re-COPY overwrites") {
    val dir = tmp()
    Copy.execute(spark, s"COPY (SELECT id AS i FROM range(10)) TO '$dir/q.parquet'")
    assert(sql(s"SELECT count(*) FROM '$dir/q.parquet'").head.getLong(0) == 10)
    Copy.execute(spark, s"COPY (SELECT id AS i FROM range(3)) TO '$dir/q.parquet'")
    // the stale-listing memo is fingerprinted: the re-read sees 3 rows
    assert(sql(s"SELECT count(*) FROM '$dir/q.parquet'").head.getLong(0) == 3)
  }

  test("COPY ... FROM appends through the verified DML path") {
    spark.sql("DROP TABLE IF EXISTS cp_in")
    graft.functions.Constraints.unregister(spark, "cp_in")
    graft.functions.Constraints.executeDdl(spark,
      "CREATE TABLE cp_in(i INT PRIMARY KEY, s STRING)")
    spark.sql("INSERT INTO cp_in VALUES (1, 'a')")
    val dir = tmp()
    Copy.execute(spark,
      s"COPY (SELECT 2 AS i, 'b' AS s UNION ALL SELECT 3, 'c') TO '$dir/in.csv'")
    val n = Copy.execute(spark, s"COPY cp_in FROM '$dir/in.csv'").head().getLong(0)
    assert(n == 2)
    assert(sql("SELECT count(*) FROM cp_in").head.getLong(0) == 3)
    // duplicate key in the file → constraint error, nothing appended
    Copy.execute(spark,
      s"COPY (SELECT 1 AS i, 'dup' AS s) TO '$dir/dup.csv'")
    val e = intercept[Exception](
      Copy.execute(spark, s"COPY cp_in FROM '$dir/dup.csv'"))
    assert(e.getMessage.contains("duplicate key"))
    assert(sql("SELECT count(*) FROM cp_in").head.getLong(0) == 3)
  }

  test("PARTITION_BY writes hive layout readable by a glob") {
    val dir = tmp()
    Copy.execute(spark,
      s"""COPY (SELECT id % 3 AS k, id AS v FROM range(9))
         |TO '$dir/part' (FORMAT 'parquet', PARTITION_BY (k))""".stripMargin)
    assert(new java.io.File(s"$dir/part/k=0").isDirectory)
    val n = spark.read.parquet(s"$dir/part").count()
    assert(n == 9)
  }

  test("COPY diagnostics: unknown option and unknown format") {
    assert(intercept[Exception](Copy.execute(spark,
      "COPY (SELECT 1) TO '/tmp/x.csv' (NOPE_OPTION 1)"))
      .getMessage.contains("Unrecognized option"))
    assert(intercept[Exception](Copy.execute(spark,
      "COPY (SELECT 1) TO '/tmp/x.bin' (FORMAT 'weird')"))
      .getMessage.contains("does not exist"))
  }

  test("read_csv_auto sniffing: header + delimiter detected; names= renames") {
    val dir = tmp()
    Copy.execute(spark,
      s"COPY (SELECT id AS a, id * 2 AS b FROM range(4)) TO '$dir/s.csv'")
    val r = sql(s"SELECT * FROM read_csv_auto('$dir/s.csv') ORDER BY a")
    assert(r.length == 4)
    val rn = sql(s"SELECT x FROM read_csv('$dir/s.csv', names=['x','y']) ORDER BY x")
    assert(rn.length == 4)
  }

  test("COPY FROM DATABASE replicates tables + constraints; READ_ONLY enforced") {
    import graft.functions.Attach
    spark.catalog.setCurrentDatabase("default")
    Seq("cpdb_a", "cpdb_b", "cpdb_ro").foreach(db =>
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE"))
    Attach.execute(spark, "ATTACH ':memory:' AS cpdb_a")
    Attach.execute(spark, "ATTACH ':memory:' AS cpdb_b")
    Attach.execute(spark, "ATTACH ':memory:' AS cpdb_ro (READ_ONLY)")
    graft.functions.Constraints.unregister(spark, "cp_items")
    graft.functions.Constraints.executeDdl(spark,
      "CREATE TABLE cpdb_a.cp_items(id INT UNIQUE, v STRING)")
    sql("INSERT INTO cpdb_a.cp_items VALUES (1, 'x'), (2, 'y')")
    Copy.execute(spark, "COPY FROM DATABASE cpdb_a TO cpdb_b")
    assert(sql("SELECT count(*) FROM cpdb_b.cp_items").head.getLong(0) == 2)
    // the UNIQUE constraint rides along
    val e = intercept[Exception](graft.functions.Dml.execute(spark,
      "INSERT INTO cpdb_b.cp_items VALUES (1, 'dup')"))
    assert(e.getMessage.contains("duplicate key"))
    // self-copy and read-only targets reject
    assert(intercept[Exception](
      Copy.execute(spark, "COPY FROM DATABASE cpdb_a TO cpdb_a"))
      .getMessage.contains("to itself"))
    assert(intercept[Exception](
      Copy.execute(spark, "COPY FROM DATABASE cpdb_a TO cpdb_ro"))
      .getMessage.contains("read-only"))
    Seq("cpdb_a", "cpdb_b", "cpdb_ro").foreach(db =>
      spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE"))
  }

  test("FileTables leaves non-file string literals alone") {
    assert(FileTables.rewrite(spark, "SELECT 'a.csv.notafile' AS s") ==
      "SELECT 'a.csv.notafile' AS s")
    assert(FileTables.rewrite(spark, "SELECT * FROM t WHERE s = 'x.csv'") ==
      "SELECT * FROM t WHERE s = 'x.csv'")
  }
}
