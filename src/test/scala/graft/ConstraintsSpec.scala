package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Sql
import graft.functions.Constraints

/** The constraint verifier (`Constraints.verifyAppend` /
  * `verifyContents`): which constraint a batch that breaks several of them
  * reports, NULL-key exemption, ON CONFLICT's resolved sets, the wording of
  * key clashes (reference art.cpp: a key an existing row holds vs a key
  * repeated among the statement's own rows) and the Spark jobs a clean
  * verification costs. */
class ConstraintsSpec extends AnyFunSuite {
  private lazy val spark = GraftTest.spark

  private def exec(s: String) = Sql.execute(spark, s).collect()
  private def rows(s: String): Seq[Seq[Any]] =
    spark.sql(s).collect().toSeq.map(_.toSeq)
  private def err(s: String): String =
    intercept[Exception](exec(s)).getMessage

  private def fresh(name: String, createBody: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name").collect()
    Constraints.unregister(spark, name)
    exec(s"CREATE TABLE $name($createBody)")
  }

  /** The constraint class an error names. */
  private def kind(msg: String): String =
    if (msg.contains("NOT NULL constraint failed")) "not null"
    else if (msg.contains("CHECK constraint failed")) "check"
    else if (msg.contains("Violates foreign key constraint")) "foreign key"
    else if (msg.contains("uplicate key")) "unique"
    else msg

  private def childTables(): Unit = {
    fresh("cv_par", "r INT PRIMARY KEY")
    exec("INSERT INTO cv_par VALUES (1), (2)")
    fresh("cv_kid", "k INT PRIMARY KEY, v INT NOT NULL CHECK (v < 100), " +
      "r INT REFERENCES cv_par(r)")
  }

  test("a batch breaking several constraints names NOT NULL, then CHECK, then FK, then UNIQUE (append)") {
    childTables()
    // k repeats, v is NULL in one row and 500 in the other, r = 9 has no parent
    assert(kind(err("INSERT INTO cv_kid VALUES (1, NULL, 9), (1, 500, 9)")) == "not null")
    assert(kind(err("INSERT INTO cv_kid VALUES (1, 50, 9), (1, 500, 9)")) == "check")
    assert(kind(err("INSERT INTO cv_kid VALUES (1, 50, 9), (1, 60, 9)")) == "foreign key")
    assert(kind(err("INSERT INTO cv_kid VALUES (1, 50, 1), (1, 60, 2)")) == "unique")
    assert(rows("SELECT count(*) FROM cv_kid") == Seq(Seq(0L)))
  }

  test("a rewrite breaking several constraints names NOT NULL, then CHECK, then FK, then UNIQUE") {
    childTables()
    exec("INSERT INTO cv_kid VALUES (1, 10, 1), (2, 20, 2)")
    assert(kind(err("UPDATE cv_kid SET k = 1, r = 9, " +
      "v = CASE WHEN k = 1 THEN NULL ELSE 500 END")) == "not null")
    assert(kind(err("UPDATE cv_kid SET k = 1, r = 9, v = 500")) == "check")
    assert(kind(err("UPDATE cv_kid SET k = 1, r = 9, v = 50")) == "foreign key")
    assert(kind(err("UPDATE cv_kid SET k = 1, v = 50")) == "unique")
    assert(rows("SELECT k, v, r FROM cv_kid ORDER BY k") ==
      Seq(Seq(1, 10, 1), Seq(2, 20, 2)))
  }

  test("a key clash is worded by where it happens") {
    fresh("cv_pk", "k INT PRIMARY KEY, s STRING")
    fresh("cv_uq", "a INT, b INT, UNIQUE (a, b)")
    exec("INSERT INTO cv_pk VALUES (1, 'x'), (2, 'y')")
    exec("INSERT INTO cv_uq VALUES (1, 1)")
    val existing = "Constraint Error: Duplicate key \"k: 1\" violates primary key constraint."
    val own = "Constraint Error: PRIMARY KEY or UNIQUE constraint violation: duplicate key \"k: 3\""
    // append: a key the table already holds, a key repeated in the batch
    assert(err("INSERT INTO cv_pk VALUES (1, 'z')").contains(existing))
    assert(err("INSERT INTO cv_pk VALUES (3, 'z'), (3, 'w')").contains(own))
    assert(err("INSERT INTO cv_uq VALUES (1, 1)")
      .contains("Duplicate key \"a: 1, b: 1\" violates unique constraint."))
    // rewrite: a row the statement left unchanged holds the key …
    assert(err("UPDATE cv_pk SET k = 1 WHERE k = 2").contains(existing))
    // … or only rows the statement wrote carry it
    assert(err("UPDATE cv_pk SET k = 3").contains(own))
    // upsert DO UPDATE moving a key onto an untouched row
    assert(err("INSERT INTO cv_pk VALUES (2, 'q') ON CONFLICT (k) DO UPDATE SET k = 1")
      .contains(existing))
    assert(rows("SELECT k, s FROM cv_pk ORDER BY k") == Seq(Seq(1, "x"), Seq(2, "y")))
    // existing contents at ADD PRIMARY KEY and CREATE UNIQUE INDEX
    fresh("cv_dup", "i INT, j INT")
    exec("INSERT INTO cv_dup VALUES (1, 1), (1, 2)")
    assert(err("ALTER TABLE cv_dup ADD PRIMARY KEY (i)")
      .contains("Constraint Error: Data contains duplicates on indexed column(s)"))
    assert(err("CREATE UNIQUE INDEX cv_dup_i ON cv_dup (i)")
      .contains("Constraint Error: Data contains duplicates on indexed column(s)"))
    exec("ALTER TABLE cv_dup ADD PRIMARY KEY (j)")
    // duplicates are reported before the second primary key
    assert(err("ALTER TABLE cv_dup ADD PRIMARY KEY (i)").contains("contains duplicates"))
    assert(err("ALTER TABLE cv_dup ADD PRIMARY KEY (j)").contains("already has a primary key"))
  }

  test("NULL keys never clash") {
    fresh("cv_nk", "a INT, b INT, c INT UNIQUE, UNIQUE (a, b)")
    exec("INSERT INTO cv_nk VALUES (1, NULL, NULL), (1, NULL, NULL), (NULL, NULL, 5)")
    exec("INSERT INTO cv_nk VALUES (1, NULL, NULL), (NULL, 2, NULL)")
    exec("UPDATE cv_nk SET c = NULL")
    exec("UPDATE cv_nk SET a = 1, b = NULL")
    assert(rows("SELECT count(*), count(a), count(b), count(c) FROM cv_nk") ==
      Seq(Seq(5L, 5L, 0L, 0L)))
    assert(err("INSERT INTO cv_nk VALUES (2, 2, 7), (2, 2, 8)").contains("duplicate key \"a: 2, b: 2\""))
  }

  test("a unique set ON CONFLICT resolved is not probed again") {
    fresh("cv_oc", "k INT PRIMARY KEY, u INT UNIQUE")
    exec("INSERT INTO cv_oc VALUES (1, 10)")
    val tc = Constraints.of(spark, "cv_oc").get
    import spark.implicits._
    // k repeats in the batch and clashes with the table; u is clean
    Seq((1, 11), (1, 12)).toDF("k", "u").createOrReplaceTempView("cv_oc_batch")
    assert(intercept[Exception](Constraints.verifyAppend(spark, tc,
      "cv_oc_batch", "cv_oc")).getMessage.contains("\"k: 1\""))
    Constraints.verifyAppend(spark, tc, "cv_oc_batch", "cv_oc", skipSets = Set(Seq("k")))
    // the other set is still checked
    Seq((1, 10)).toDF("k", "u").createOrReplaceTempView("cv_oc_batch")
    assert(intercept[Exception](Constraints.verifyAppend(spark, tc,
      "cv_oc_batch", "cv_oc", skipSets = Set(Seq("k")))).getMessage.contains("\"u: 10\""))
    // and through the statement: DO NOTHING drops the clashing rows
    exec("INSERT INTO cv_oc VALUES (1, 11), (2, 12), (2, 13) ON CONFLICT (k) DO NOTHING")
    assert(rows("SELECT k, u FROM cv_oc ORDER BY k") == Seq(Seq(1, 10), Seq(2, 12)))
  }

  test("a clean verification of a primary-key table runs one aggregate") {
    fresh("cv_jobs", "k BIGINT PRIMARY KEY, v DOUBLE")
    exec("INSERT INTO cv_jobs SELECT id, id * 0.5 FROM range(2000)")
    val tc = Constraints.of(spark, "cv_jobs").get
    val tag = "graft.test.constraints"
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (s.properties != null && s.properties.getProperty(tag) != null)
          started.incrementAndGet(): Unit
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet(): Unit
    }
    def verify(): Unit =
      Constraints.verifyContents(spark, tc, spark.table("cv_jobs"), "cv_jobs")
    verify() // warm: code generation and the first analysis
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, "1")
    try {
      verify()
      // the listener bus is asynchronous: wait until it is quiet
      var quiet = 0
      var last = -1
      while (quiet < 3) {
        Thread.sleep(200)
        val now = ended.get()
        if (now == last) quiet += 1 else { quiet = 0; last = now }
      }
    } finally {
      spark.sparkContext.setLocalProperty(tag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
    // NOT NULL (k) and PRIMARY KEY (k) in one aggregate: a map stage per
    // shuffle and the result. The separate LIMIT 1 probes took 4 jobs.
    assert(started.get() == 3, s"${started.get()} jobs")
  }
}
