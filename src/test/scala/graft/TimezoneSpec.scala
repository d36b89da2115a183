package graft

import org.scalatest.funsuite.AnyFunSuite

/** AT TIME ZONE / timezone(tz, ts) — expectations from the reference's
  * test/sql/timezone/test_icu_timezone.test and
  * test_icu_timezone_edge_cases.test. */
class TimezoneSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  private def one(sql: String): Any = {
    val df = graft.engine.Sql.execute(spark, sql)
    df.collect().head.get(0)
  }
  private def s1(sql: String): String = String.valueOf(one(sql))

  test("TIMESTAMP AT TIME ZONE -> instant (session UTC rendering)") {
    // test_icu_timezone.test:24-28: 20:38:40 Denver wall = 03:38:40 UTC
    assert(s1("SELECT CAST('2001-02-16 20:38:40' AS TIMESTAMP_NTZ) AT TIME ZONE 'America/Denver'")
      == "2001-02-17 03:38:40.0")
  }

  test("case-insensitive zone names") {
    assert(s1("SELECT CAST('2001-02-16 20:38:40' AS TIMESTAMP_NTZ) AT TIME ZONE 'america/denver'")
      == "2001-02-17 03:38:40.0")
  }

  test("TIMESTAMPTZ AT TIME ZONE -> naive wall clock") {
    // test_icu_timezone.test:44-46: 20:38:40-05 in Denver = 18:38:40
    assert(s1("SELECT CAST('2001-02-16 20:38:40-05' AS TIMESTAMP) AT TIME ZONE 'America/Denver'")
      == "2001-02-16T18:38:40")
  }

  test("unknown zone raises with a suggestion") {
    val e = intercept[Exception](one(
      "SELECT CAST('2001-02-16 20:38:40' AS TIMESTAMP_NTZ) AT TIME ZONE 'America/Donver'"))
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("Unknown TimeZone"), msg)
    assert(msg.contains("America/Denver"), msg)
  }

  test("NULL zone / NULL operand -> NULL") {
    assert(one("SELECT CAST('2001-02-16 20:38:40' AS TIMESTAMP_NTZ) AT TIME ZONE CAST(NULL AS STRING)") == null)
    assert(one("SELECT CAST(NULL AS TIMESTAMP_NTZ) AT TIME ZONE 'America/Denver'") == null)
  }

  test("timezone(tz, ts) function form, string operand binds as naive") {
    assert(s1("SELECT timezone('America/Denver', '2001-02-16 20:38:40')")
      == "2001-02-17 03:38:40.0")
  }

  test("per-row zone column") {
    val rows = graft.engine.Sql.execute(spark,
      """SELECT CAST(ts AS TIMESTAMP_NTZ) AT TIME ZONE tz FROM VALUES
        |  ('2001-02-16 20:38:40', 'America/Phoenix'),
        |  ('2001-02-16 20:38:40', 'UTC'),
        |  ('2001-02-16 20:38:40', CAST(NULL AS STRING)) AS t(ts, tz)""".stripMargin)
      .collect().map(r => String.valueOf(r.get(0)))
    assert(rows.toSeq == Seq(
      "2001-02-17 03:38:40.0", "2001-02-16 20:38:40.0", "null"))
  }

  test("DST gap shifts forward; ambiguous wall clock resolves LATER") {
    // edge_cases: NY 2024-03-10 02:30 does not exist -> 03:30-04 = 07:30 UTC
    assert(s1("SELECT CAST('2024-03-10 02:30:00' AS TIMESTAMP_NTZ) AT TIME ZONE 'America/New_York'")
      == "2024-03-10 07:30:00.0")
    // NY 2024-11-03 01:30 occurs twice; ICU documents the LATER instant
    // (EST, -05) -> 06:30 UTC
    assert(s1("SELECT CAST('2024-11-03 01:30:00' AS TIMESTAMP_NTZ) AT TIME ZONE 'America/New_York'")
      == "2024-11-03 06:30:00.0")
  }

  test("UTC offset spellings (UTC-0800 family)") {
    for (z <- Seq("UTC-0800", "UTC-08", "UTC-8", "UTC-08:00"))
      assert(s1(s"SELECT CAST('2026-04-23 19:26:40' AS TIMESTAMP_NTZ) AT TIME ZONE '$z'")
        == "2026-04-24 03:26:40.0", z)
  }

  test("roundtrip: instant -> wall -> instant is identity off-transition") {
    assert(s1(
      """SELECT timezone('Asia/Tokyo',
        |  timezone('Asia/Tokyo', CAST('2020-06-01 12:00:00' AS TIMESTAMP)))""".stripMargin)
      == "2020-06-01 12:00:00.0")
  }

  test("typed literal operand: TIMESTAMP '...' AT TIME ZONE") {
    // Spark's TIMESTAMP literal is the instant type (duck TIMESTAMPTZ):
    // instant 19:26:40 UTC reads 11:26:40 on a UTC-08 wall clock
    assert(s1("SELECT TIMESTAMP '2026-04-23 19:26:40' AT TIME ZONE 'UTC-08'")
      == "2026-04-23T11:26:40")
    // the naive literal spelling is TIMESTAMP_NTZ (duck TIMESTAMP)
    assert(s1("SELECT TIMESTAMP_NTZ '2026-04-23 19:26:40' AT TIME ZONE 'UTC-08'")
      == "2026-04-24 03:26:40.0")
  }

  test("SET TimeZone validates and maps to the session zone") {
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      graft.functions.Timezone.executeSet(spark, "SET TimeZone = 'America/Los_Angeles'")
      assert(spark.conf.get("spark.sql.session.timeZone") == "America/Los_Angeles")
      assert(s1("SELECT value FROM duckdb_settings() WHERE name = 'TimeZone'")
        == "America/Los_Angeles")
      // UTC-0800 displays POSIX-inverted (test_icu_timezone.test:200-212)
      graft.functions.Timezone.executeSet(spark, "SET TimeZone = 'UTC-0800'")
      assert(s1("SELECT value FROM duckdb_settings() WHERE name = 'TimeZone'")
        == "Etc/GMT+8")
      assert(s1("SELECT current_setting('TimeZone')") == "Etc/GMT+8")
      val e = intercept[Exception](
        graft.functions.Timezone.executeSet(spark, "SET TimeZone = 'Europe/Duck'"))
      assert(e.getMessage.contains("Unknown TimeZone"))
    } finally {
      spark.conf.set("spark.sql.session.timeZone", tz0)
      spark.conf.set("spark.graft.timezone.display", "UTC")
    }
  }

  test("AT TIME ZONE text inside a string literal is untouched") {
    assert(s1("SELECT 'ts AT TIME ZONE z'") == "ts AT TIME ZONE z")
  }
}
