package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Tables

/** The full ClickBench suite — all 43 query shapes the reference ships
  * (`/root/reference/benchmark/clickbench/queries/q00-q42.sql`) —
  * paraphrased onto the `events` fixture. ClickBench's `hits` table is
  * re-created as a deterministic derived projection of `events`
  * (WatchID/UserID/URL/SearchPhrase/... below); every derivation is
  * pure integer/string arithmetic so the DuckDB oracle computes the
  * exact same values and each query is gated oracle-exact. Each query is
  * one text, a WITH defining `hits` over `events` and then the query,
  * which the engine's front door runs as is. q_cb28 alone keeps a
  * hand-built body (its `'\1'` backreference reads differently in
  * Spark's string literals).
  *
  * Paraphrase liberties, applied identically on both engines:
  *  - constants (UserID = 435090932899640449, CounterID = 62, the 2013
  *    date window, HAVING > 100000, the large OFFSETs) are rescaled to
  *    the fixture's value ranges so every query returns rows;
  *  - ORDER BYs gain deterministic tie-break columns (ClickBench's
  *    `ORDER BY c DESC LIMIT 10` is nondeterministic under ties, which
  *    an exact-hash gate cannot tolerate); q17's orderless `LIMIT 10`
  *    gains an ORDER BY for the same reason;
  *  - AVG(x) is spelled CAST(SUM(..) AS DOUBLE)/COUNT(*) so both
  *    engines produce the bit-identical double (same exact integer
  *    numerator), and SUMs are cast to BIGINT (DuckDB widens to
  *    HUGEINT, Spark stays BIGINT).
  *
  * Scale shape: every query is a single scan → (optional filter) →
  * hash-aggregate → top-k. No joins, no subqueries — the 100 TB plan
  * is one shuffle keyed on the group-by columns with partial
  * aggregation map-side, and ORDER BY ... LIMIT k runs as TakeOrdered
  * (per-partition heaps, no global sort). The derived projection is
  * computed inline in the scan stage (codegen'd expressions over the
  * parquet scan; only `event_id/ts/user_id/event_type/value/props`
  * are read).
  */
object ClickBench extends Pack {

  /** hits columns as SQL over events; `@JSON@` is the JSON accessor:
    * json_extract in the query text, get_json_object in q_cb28's
    * hand-built view, both yielding the BIGINT `$.k` property.
    */
  private val K = "CAST(@JSON@(props, '$.k') AS BIGINT)"
  private val hitsCols: Seq[String] = Seq(
    "event_id AS WatchID",
    "ts AS EventTime",
    "CAST(ts AS DATE) AS EventDate",
    "user_id AS UserID",
    s"($K % 19) AS AdvEngineID",
    "(user_id % 97) AS RegionID",
    "((event_id * 271 + user_id) % 65536) AS ClientIP",
    "(event_id % 13) AS SearchEngineID",
    s"CASE WHEN event_id % 5 = 0 THEN concat('phrase ', CAST($K % 23 AS STRING)) ELSE '' END AS SearchPhrase",
    "(user_id % 7) AS MobilePhone",
    "CASE WHEN user_id % 3 = 0 THEN concat('Model-', CAST(user_id % 11 AS STRING)) ELSE '' END AS MobilePhoneModel",
    "concat('https://site', CAST(user_id % 37 AS STRING), '.example.com/', " +
      "CASE WHEN event_id % 11 = 0 THEN 'google/' ELSE 'page/' END, " +
      "CAST(event_id % 53 AS STRING)) AS URL",
    "concat('Title ', event_type, CASE WHEN event_id % 13 = 0 THEN ' Google' ELSE '' END) AS Title",
    "concat('https://ref', CAST(user_id % 17 AS STRING), '.example.org/', " +
      "CAST(event_id % 31 AS STRING), '/p') AS Referer",
    "(event_id % 2) AS IsRefresh",
    "CAST(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS DontCountHits",
    "CAST(CASE WHEN event_id % 17 = 0 THEN 1 ELSE 0 END AS BIGINT) AS IsLink",
    "CAST(CASE WHEN event_id % 23 = 0 THEN 1 ELSE 0 END AS BIGINT) AS IsDownload",
    "(user_id % 10) AS CounterID",
    "(CAST(round(value * 100) AS BIGINT) % 1920) AS ResolutionWidth",
    "((CAST(round(value * 100) AS BIGINT) % 1920) - (event_id % 7)) AS WindowClientWidth",
    "((user_id * 7) % 1080) AS WindowClientHeight",
    "((event_id % 9) - 1) AS TraficSourceID",
    "((event_id * 37) % 256) AS URLHash",
    "((event_id * 37 + 11) % 8) AS RefererHash")

  /** hits as a DataFrame over the events scan, for q_cb28's body. */
  private def hits(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).selectExpr(
      hitsCols.map(_.replace("@JSON@", "get_json_object")): _*)

  private val hitsCte: String =
    "SELECT " + hitsCols.map(_.replace("@JSON@", "json_extract"))
      .mkString(", ") + " FROM events"

  /** Register one ClickBench shape: `body` is SQL over a relation named
    * `hits`, which a WITH over events defines. */
  private def cb(name: String)(body: String): Unit =
    q(name, s"WITH hits AS ($hitsCte)\n${body.stripMargin.trim}")

  private val avgWidth = "(CAST(SUM(ResolutionWidth) AS DOUBLE) / COUNT(*))"

  cb("q_cb00")("SELECT CAST(COUNT(*) AS BIGINT) AS c FROM hits")
  cb("q_cb01")(
    "SELECT CAST(COUNT(*) AS BIGINT) AS c FROM hits WHERE AdvEngineID <> 0")
  cb("q_cb02")(
    s"""SELECT CAST(SUM(AdvEngineID) AS BIGINT) AS s,
       |  CAST(COUNT(*) AS BIGINT) AS c, $avgWidth AS a FROM hits""")
  cb("q_cb03")(
    "SELECT (CAST(SUM(UserID) AS DOUBLE) / COUNT(*)) AS a FROM hits")
  cb("q_cb04")(
    "SELECT CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u FROM hits")
  cb("q_cb05")(
    "SELECT CAST(COUNT(DISTINCT SearchPhrase) AS BIGINT) AS u FROM hits")
  cb("q_cb06")("SELECT MIN(EventDate) AS mn, MAX(EventDate) AS mx FROM hits")
  cb("q_cb07")(
    """SELECT AdvEngineID, CAST(COUNT(*) AS BIGINT) AS c FROM hits
      |WHERE AdvEngineID <> 0 GROUP BY AdvEngineID
      |ORDER BY c DESC, AdvEngineID""")
  cb("q_cb08")(
    """SELECT RegionID, CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
      |FROM hits GROUP BY RegionID ORDER BY u DESC, RegionID LIMIT 10""")
  cb("q_cb09")(
    s"""SELECT RegionID, CAST(SUM(AdvEngineID) AS BIGINT) AS s,
       |  CAST(COUNT(*) AS BIGINT) AS c, $avgWidth AS a,
       |  CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
       |FROM hits GROUP BY RegionID ORDER BY c DESC, RegionID LIMIT 10""")
  cb("q_cb10")(
    """SELECT MobilePhoneModel, CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
      |FROM hits WHERE MobilePhoneModel <> '' GROUP BY MobilePhoneModel
      |ORDER BY u DESC, MobilePhoneModel LIMIT 10""")
  cb("q_cb11")(
    """SELECT MobilePhone, MobilePhoneModel,
      |  CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
      |FROM hits WHERE MobilePhoneModel <> ''
      |GROUP BY MobilePhone, MobilePhoneModel
      |ORDER BY u DESC, MobilePhone, MobilePhoneModel LIMIT 10""")
  cb("q_cb12")(
    """SELECT SearchPhrase, CAST(COUNT(*) AS BIGINT) AS c FROM hits
      |WHERE SearchPhrase <> '' GROUP BY SearchPhrase
      |ORDER BY c DESC, SearchPhrase LIMIT 10""")
  cb("q_cb13")(
    """SELECT SearchPhrase, CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
      |FROM hits WHERE SearchPhrase <> '' GROUP BY SearchPhrase
      |ORDER BY u DESC, SearchPhrase LIMIT 10""")
  cb("q_cb14")(
    """SELECT SearchEngineID, SearchPhrase, CAST(COUNT(*) AS BIGINT) AS c
      |FROM hits WHERE SearchPhrase <> ''
      |GROUP BY SearchEngineID, SearchPhrase
      |ORDER BY c DESC, SearchEngineID, SearchPhrase LIMIT 10""")
  cb("q_cb15")(
    """SELECT UserID, CAST(COUNT(*) AS BIGINT) AS c FROM hits
      |GROUP BY UserID ORDER BY c DESC, UserID LIMIT 10""")
  cb("q_cb16")(
    """SELECT UserID, SearchPhrase, CAST(COUNT(*) AS BIGINT) AS c
      |FROM hits GROUP BY UserID, SearchPhrase
      |ORDER BY c DESC, UserID, SearchPhrase LIMIT 10""")
  cb("q_cb17")(
    """SELECT UserID, SearchPhrase, CAST(COUNT(*) AS BIGINT) AS c
      |FROM hits GROUP BY UserID, SearchPhrase
      |ORDER BY UserID, SearchPhrase LIMIT 10""")
  cb("q_cb18")(
    """SELECT UserID, CAST(minute(EventTime) AS BIGINT) AS m, SearchPhrase,
      |  CAST(COUNT(*) AS BIGINT) AS c
      |FROM hits GROUP BY UserID, m, SearchPhrase
      |ORDER BY c DESC, UserID, m, SearchPhrase LIMIT 10""")
  cb("q_cb19")("SELECT UserID FROM hits WHERE UserID = 77")
  cb("q_cb20")(
    "SELECT CAST(COUNT(*) AS BIGINT) AS c FROM hits WHERE URL LIKE '%google%'")
  cb("q_cb21")(
    """SELECT SearchPhrase, MIN(URL) AS mu, CAST(COUNT(*) AS BIGINT) AS c
      |FROM hits WHERE URL LIKE '%google%' AND SearchPhrase <> ''
      |GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10""")
  cb("q_cb22")(
    """SELECT SearchPhrase, MIN(URL) AS mu, MIN(Title) AS mt,
      |  CAST(COUNT(*) AS BIGINT) AS c,
      |  CAST(COUNT(DISTINCT UserID) AS BIGINT) AS u
      |FROM hits WHERE Title LIKE '%Google%' AND URL NOT LIKE '%.google.%'
      |  AND SearchPhrase <> ''
      |GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10""")
  cb("q_cb23")(
    """SELECT * FROM hits WHERE URL LIKE '%google%'
      |ORDER BY EventTime, WatchID LIMIT 10""")
  cb("q_cb24")(
    """SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
      |ORDER BY EventTime, WatchID LIMIT 10""")
  cb("q_cb25")(
    """SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
      |ORDER BY SearchPhrase LIMIT 10""")
  cb("q_cb26")(
    """SELECT SearchPhrase FROM hits WHERE SearchPhrase <> ''
      |ORDER BY EventTime, SearchPhrase, WatchID LIMIT 10""")
  cb("q_cb27")(
    """SELECT CounterID,
      |  (CAST(SUM(length(URL)) AS DOUBLE) / COUNT(*)) AS l,
      |  CAST(COUNT(*) AS BIGINT) AS c
      |FROM hits WHERE URL <> '' GROUP BY CounterID
      |HAVING COUNT(*) > 60 ORDER BY l DESC, CounterID LIMIT 25""")
  cb("q_cb29")(
    "SELECT " + (0 until 90).map(i =>
      s"CAST(SUM(ResolutionWidth + $i) AS BIGINT) AS s$i").mkString(", ") +
      " FROM hits")
  cb("q_cb30")(
    s"""SELECT SearchEngineID, ClientIP, CAST(COUNT(*) AS BIGINT) AS c,
       |  CAST(SUM(IsRefresh) AS BIGINT) AS sr, $avgWidth AS a
       |FROM hits WHERE SearchPhrase <> ''
       |GROUP BY SearchEngineID, ClientIP
       |ORDER BY c DESC, SearchEngineID, ClientIP LIMIT 10""")
  cb("q_cb31")(
    s"""SELECT WatchID, ClientIP, CAST(COUNT(*) AS BIGINT) AS c,
       |  CAST(SUM(IsRefresh) AS BIGINT) AS sr, $avgWidth AS a
       |FROM hits WHERE SearchPhrase <> ''
       |GROUP BY WatchID, ClientIP
       |ORDER BY c DESC, WatchID, ClientIP LIMIT 10""")
  cb("q_cb32")(
    s"""SELECT WatchID, ClientIP, CAST(COUNT(*) AS BIGINT) AS c,
       |  CAST(SUM(IsRefresh) AS BIGINT) AS sr, $avgWidth AS a
       |FROM hits GROUP BY WatchID, ClientIP
       |ORDER BY c DESC, WatchID, ClientIP LIMIT 10""")
  cb("q_cb33")(
    """SELECT URL, CAST(COUNT(*) AS BIGINT) AS c FROM hits
      |GROUP BY URL ORDER BY c DESC, URL LIMIT 10""")
  cb("q_cb34")(
    """SELECT 1 AS one, URL, CAST(COUNT(*) AS BIGINT) AS c FROM hits
      |GROUP BY 1, URL ORDER BY c DESC, URL LIMIT 10""")
  cb("q_cb35")(
    """SELECT ClientIP, ClientIP - 1 AS cm1, ClientIP - 2 AS cm2,
      |  ClientIP - 3 AS cm3, CAST(COUNT(*) AS BIGINT) AS c
      |FROM hits GROUP BY ClientIP, cm1, cm2, cm3
      |ORDER BY c DESC, ClientIP LIMIT 10""")
  cb("q_cb36")(
    """SELECT URL, CAST(COUNT(*) AS BIGINT) AS PageViews FROM hits
      |WHERE CounterID = 6 AND EventDate >= DATE '2024-01-08'
      |  AND EventDate <= DATE '2024-01-21' AND DontCountHits = 0
      |  AND IsRefresh = 0 AND URL <> ''
      |GROUP BY URL ORDER BY PageViews DESC, URL LIMIT 10""")
  cb("q_cb37")(
    """SELECT Title, CAST(COUNT(*) AS BIGINT) AS PageViews FROM hits
      |WHERE CounterID = 6 AND EventDate >= DATE '2024-01-08'
      |  AND EventDate <= DATE '2024-01-21' AND DontCountHits = 0
      |  AND IsRefresh = 0 AND Title <> ''
      |GROUP BY Title ORDER BY PageViews DESC, Title LIMIT 10""")
  cb("q_cb38")(
    """SELECT URL, CAST(COUNT(*) AS BIGINT) AS PageViews FROM hits
      |WHERE CounterID = 6 AND EventDate >= DATE '2024-01-08'
      |  AND EventDate <= DATE '2024-01-21' AND IsRefresh = 0
      |  AND IsLink <> 0 AND IsDownload = 0
      |GROUP BY URL ORDER BY PageViews DESC, URL LIMIT 10 OFFSET 5""")
  cb("q_cb39")(
    """SELECT TraficSourceID, SearchEngineID, AdvEngineID,
      |  CASE WHEN (SearchEngineID = 0 AND AdvEngineID = 0) THEN Referer
      |       ELSE '' END AS Src,
      |  URL AS Dst, CAST(COUNT(*) AS BIGINT) AS PageViews
      |FROM hits
      |WHERE CounterID = 6 AND EventDate >= DATE '2024-01-08'
      |  AND EventDate <= DATE '2024-01-21' AND IsRefresh = 0
      |GROUP BY TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst
      |ORDER BY PageViews DESC, TraficSourceID, SearchEngineID,
      |  AdvEngineID, Src, Dst LIMIT 10 OFFSET 5""")
  cb("q_cb40")(
    """SELECT URLHash, EventDate, CAST(COUNT(*) AS BIGINT) AS PageViews
      |FROM hits
      |WHERE CounterID = 6 AND EventDate >= DATE '2024-01-08'
      |  AND EventDate <= DATE '2024-01-21' AND IsRefresh = 0
      |  AND TraficSourceID IN (-1, 6) AND RefererHash = 7
      |GROUP BY URLHash, EventDate
      |ORDER BY PageViews DESC, URLHash, EventDate LIMIT 10 OFFSET 2""")
  cb("q_cb41")(
    """SELECT WindowClientWidth, WindowClientHeight,
      |  CAST(COUNT(*) AS BIGINT) AS PageViews
      |FROM hits
      |WHERE CounterID = 6 AND EventDate >= DATE '2024-01-08'
      |  AND EventDate <= DATE '2024-01-21' AND IsRefresh = 0
      |  AND DontCountHits = 0 AND URLHash = 42
      |GROUP BY WindowClientWidth, WindowClientHeight
      |ORDER BY PageViews DESC, WindowClientWidth, WindowClientHeight
      |LIMIT 10 OFFSET 1""")
  cb("q_cb42")(
    """SELECT date_trunc('minute', EventTime) AS M,
      |  CAST(COUNT(*) AS BIGINT) AS PageViews
      |FROM hits
      |WHERE CounterID = 6 AND EventDate >= DATE '2024-01-10'
      |  AND EventDate <= DATE '2024-01-11' AND IsRefresh = 0
      |  AND DontCountHits = 0
      |GROUP BY M ORDER BY M LIMIT 10 OFFSET 5""")

  // q28 keeps a hand-built body: Spark unescapes backslashes in string
  // literals, so the text's '\1' would reach REGEXP_REPLACE as "1"
  // (DuckDB keeps the backslash); the body doubles it.
  private val q28Tail =
    """, (CAST(SUM(length(Referer)) AS DOUBLE) / COUNT(*)) AS l,
      |  CAST(COUNT(*) AS BIGINT) AS c, MIN(Referer) AS mr
      |FROM hits WHERE Referer <> '' GROUP BY k
      |HAVING COUNT(*) > 60 ORDER BY l DESC, k LIMIT 25""".stripMargin
  built("q_cb28",
    s"""WITH hits AS ($hitsCte)
       |SELECT REGEXP_REPLACE(Referer,
       |  '^https?://(?:www\\.)?([^/]+)/.*$$', '\\1') AS k$q28Tail""") {
    (s, dir) =>
      val view = s"cb_hits_${Integer.toHexString(dir.hashCode).replace('-', 'm')}"
      hits(s, dir).createOrReplaceTempView(view)
      s.sql(
        s"""SELECT REGEXP_REPLACE(Referer,
           |  '^https?://(?:www\\\\.)?([^/]+)/.*$$', '\\\\1') AS k$q28Tail"""
          .stripMargin.replace("FROM hits", s"FROM $view"))
  }
}
