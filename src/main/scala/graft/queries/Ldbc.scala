package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** LDBC Social Network Benchmark (BI workload) — shape parity with the
  * reference's `benchmark/ldbc/queries/bi-*.sql` (schema
  * `benchmark/ldbc/schema.sql`), paraphrased onto the TPC-H-ish fixtures
  * the same way the TPC-DS pack is: a deterministic social graph is
  * DERIVED from the fixture tables with pure integer arithmetic, so the
  * DuckDB oracle computes the identical graph from the identical parquet
  * and every query stays hash-exact.
  *
  * Derived graph (all arithmetic on non-negative BIGINTs, identical in
  * both engines):
  *   person       := customer  (id, name, segment, city=nationkey,
  *                              creationdate = Jan 2024 + (key%28) days)
  *   city/country := nation / region (pl_containerplaceid = n_regionkey)
  *   knows        := symmetric closure of 3 hash edges per person
  *   message      := events (creator=user_id, ts, length=floor(value),
  *                           reply-of = id-1 except roots at id%8=0,
  *                           forum = id%100, location = user_id%25)
  *   forum        := 100 forums (nation × 4), moderator = (id*37)%|person|
  *   forum_person := customer × 2 hashed memberships
  *   tag          := part (class = key%40); tagclass := the 40 classes
  *   message_tag  := events × 2 hashed tags
  *   likes        := events × 2 hashed likers (+1h/+2h timestamps)
  *   person_tag   := customer × 2 hashed interests
  *
  * 100 TB shape notes: every query is join + hash-agg over the derived
  * edges — the graph derivation itself is map-side arithmetic on the
  * base scans (no extra shuffle); dims (tag/tagclass/forum/place/person
  * aggregates) broadcast; the big sides (message, message_tag, likes)
  * shuffle once on their join keys. The two recursive shapes (bi-9
  * thread traversal, bi-10 bounded BFS) run the semi-naive batched
  * fixpoint from [[graft.operators.RecursiveCTE]].
  */
object Ldbc extends Pack {

  // ---------------------------------------------------------------------
  // derived-graph builders (DataFrame side)
  // ---------------------------------------------------------------------

  /** cross-joined broadcast scalar: |customer| (mod base for person ids) */
  private def withNc(df: DataFrame, s: SparkSession, dir: String): DataFrame =
    df.crossJoin(broadcast(Tables.customer(s, dir).agg(count(lit(1)).as("nc_"))))

  private def withNp(df: DataFrame, s: SparkSession, dir: String): DataFrame =
    df.crossJoin(broadcast(Tables.part(s, dir).agg(count(lit(1)).as("np_"))))

  private[queries] def person(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").as("p_personid"),
      col("c_name").as("p_firstname"),
      col("c_mktsegment").as("p_lastname"),
      col("c_nationkey").cast("bigint").as("p_placeid"),
      expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(c_custkey % 28 AS INT),0,0,0)")
        .as("p_creationdate"))

  private[queries] def city(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).select(
      col("n_nationkey").cast("bigint").as("pl_placeid"),
      col("n_name").as("pl_name"),
      col("n_regionkey").cast("bigint").as("pl_containerplaceid"))

  private[queries] def country(s: SparkSession, dir: String): DataFrame =
    Tables.region(s, dir).select(
      col("r_regionkey").cast("bigint").as("pl_placeid"),
      col("r_name").as("pl_name"))

  private[queries] def knows(s: SparkSession, dir: String): DataFrame = {
    val base = withNc(Tables.customer(s, dir).select(col("c_custkey")), s, dir)
      .select(col("c_custkey"), col("nc_"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
      .select(col("c_custkey").as("a"),
        ((col("c_custkey") * 17 + col("j") * 29) % col("nc_")).as("b"))
    base.select(col("a"), col("b"))
      .unionAll(base.select(col("b").as("a"), col("a").as("b")))
      .where(col("a") =!= col("b"))
      .distinct()
      .select(col("a").as("k_person1id"), col("b").as("k_person2id"))
  }

  private[queries] def message(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id").as("m_messageid"),
      col("user_id").as("m_creatorid"),
      col("ts").as("m_creationdate"),
      floor(col("value")).cast("int").as("m_length"),
      // varies per MESSAGE, not per creator — ic-3 needs one creator
      // posting from two different countries
      ((col("user_id") + col("event_id")) % 25).as("m_locationid"),
      when(col("event_id") % 8 === 0, lit(null).cast("bigint"))
        .otherwise(col("event_id") - 1).as("m_c_replyof"),
      (col("event_id") % 100).as("m_ps_forumid"))

  private[queries] def forum(s: SparkSession, dir: String): DataFrame =
    withNc(Tables.nation(s, dir).select(col("n_nationkey")), s, dir)
      .select(col("n_nationkey"), col("nc_"),
        explode(array(lit(0L), lit(1L), lit(2L), lit(3L))).as("j"))
      .select(
        (col("n_nationkey") + lit(25L) * col("j")).cast("bigint").as("f_forumid"),
        concat(lit("forum_"),
          (col("n_nationkey") + lit(25L) * col("j")).cast("string")).as("f_title"),
        (((col("n_nationkey") + lit(25L) * col("j")) * 37) % col("nc_"))
          .cast("bigint").as("f_moderatorid"),
        expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,CAST(n_nationkey + 25*j AS INT),0,0,0)")
          .as("f_creationdate"))

  private[queries] def forumPerson(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey"),
        explode(array(lit(0L), lit(1L))).as("j"))
      .select(
        ((col("c_custkey") * 3 + col("j") * 41) % 100).as("fp_forumid"),
        col("c_custkey").as("fp_personid"),
        expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,CAST((c_custkey + j*333) % 720 AS INT),0,0)")
          .as("fp_creationdate"))

  private[queries] def tag(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      col("p_partkey").as("t_tagid"),
      col("p_name").as("t_name"),
      (col("p_partkey") % 40).as("t_tagclassid"))

  private[queries] def tagclass(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select((col("p_partkey") % 40).as("tc_tagclassid")).distinct()
      .select(col("tc_tagclassid"),
        concat(lit("class_"), col("tc_tagclassid").cast("string")).as("tc_name"))

  private[queries] def messageTag(s: SparkSession, dir: String): DataFrame =
    withNp(Tables.events(s, dir).select(col("event_id")), s, dir)
      .select(col("event_id"), col("np_"),
        explode(array(lit(0L), lit(1L))).as("j"))
      .select(col("event_id").as("mt_messageid"),
        ((col("event_id") * 7 + col("j") * 13) % col("np_")).as("mt_tagid"))

  private[queries] def likes(s: SparkSession, dir: String): DataFrame =
    withNc(Tables.events(s, dir).select(col("event_id"), col("ts")), s, dir)
      .select(col("event_id"), col("ts"), col("nc_"),
        explode(array(lit(1L), lit(2L))).as("j"))
      .select(
        ((col("event_id") * 11 + col("j") * 37) % col("nc_")).as("l_personid"),
        col("event_id").as("l_messageid"),
        expr("ts + make_interval(0,0,0,0,CAST(j AS INT),0,0)").as("l_creationdate"))

  private[queries] def personTag(s: SparkSession, dir: String): DataFrame =
    withNp(Tables.customer(s, dir).select(col("c_custkey")), s, dir)
      .select(col("c_custkey"), col("np_"),
        explode(array(lit(0L), lit(1L))).as("j"))
      .select(col("c_custkey").as("pt_personid"),
        ((col("c_custkey") * 5 + col("j") * 11) % col("np_")).as("pt_tagid"))

  // ---------------------------------------------------------------------
  // the same graph as a DuckDB WITH-prelude (prepended to every oracle)
  // ---------------------------------------------------------------------

  private val G: String = """
    |WITH
    |nc AS (SELECT count(*) AS n FROM customer),
    |npk AS (SELECT count(*) AS n FROM part),
    |person AS (
    |  SELECT c_custkey AS p_personid, c_name AS p_firstname,
    |         c_mktsegment AS p_lastname, CAST(c_nationkey AS BIGINT) AS p_placeid,
    |         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1' DAY * (c_custkey % 28) AS p_creationdate
    |  FROM customer),
    |city AS (SELECT CAST(n_nationkey AS BIGINT) AS pl_placeid, n_name AS pl_name,
    |                CAST(n_regionkey AS BIGINT) AS pl_containerplaceid FROM nation),
    |country AS (SELECT CAST(r_regionkey AS BIGINT) AS pl_placeid, r_name AS pl_name FROM region),
    |knows AS (
    |  SELECT DISTINCT a AS k_person1id, b AS k_person2id FROM (
    |    SELECT c_custkey AS a, (c_custkey*17 + j*29) % (SELECT n FROM nc) AS b
    |    FROM customer, (VALUES (1),(2),(3)) t(j)
    |    UNION ALL
    |    SELECT (c_custkey*17 + j*29) % (SELECT n FROM nc) AS a, c_custkey AS b
    |    FROM customer, (VALUES (1),(2),(3)) t(j)) e
    |  WHERE a <> b),
    |message AS (
    |  SELECT event_id AS m_messageid, user_id AS m_creatorid, ts AS m_creationdate,
    |         CAST(floor(value) AS INT) AS m_length, (user_id + event_id) % 25 AS m_locationid,
    |         CASE WHEN event_id % 8 = 0 THEN NULL ELSE event_id - 1 END AS m_c_replyof,
    |         event_id % 100 AS m_ps_forumid
    |  FROM events),
    |forum AS (
    |  SELECT CAST(n_nationkey + 25*j AS BIGINT) AS f_forumid,
    |         'forum_' || CAST(n_nationkey + 25*j AS VARCHAR) AS f_title,
    |         CAST((n_nationkey + 25*j) * 37 AS BIGINT) % (SELECT n FROM nc) AS f_moderatorid,
    |         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1' DAY * (n_nationkey + 25*j) AS f_creationdate
    |  FROM nation, (VALUES (0),(1),(2),(3)) t(j)),
    |forum_person AS (
    |  SELECT (c_custkey*3 + j*41) % 100 AS fp_forumid, c_custkey AS fp_personid,
    |         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1' HOUR * ((c_custkey + j*333) % 720) AS fp_creationdate
    |  FROM customer, (VALUES (0),(1)) t(j)),
    |tag AS (SELECT p_partkey AS t_tagid, p_name AS t_name, p_partkey % 40 AS t_tagclassid FROM part),
    |tagclass AS (SELECT DISTINCT p_partkey % 40 AS tc_tagclassid,
    |                    'class_' || CAST(p_partkey % 40 AS VARCHAR) AS tc_name FROM part),
    |message_tag AS (
    |  SELECT event_id AS mt_messageid, (event_id*7 + j*13) % (SELECT n FROM npk) AS mt_tagid
    |  FROM events, (VALUES (0),(1)) t(j)),
    |likes AS (
    |  SELECT (event_id*11 + j*37) % (SELECT n FROM nc) AS l_personid, event_id AS l_messageid,
    |         ts + INTERVAL '1' HOUR * j AS l_creationdate
    |  FROM events, (VALUES (1),(2)) t(j)),
    |person_tag AS (
    |  SELECT c_custkey AS pt_personid, (c_custkey*5 + j*11) % (SELECT n FROM npk) AS pt_tagid
    |  FROM customer, (VALUES (0),(1)) t(j))
    |""".stripMargin.trim

  /** Prepend the graph prelude; a body that opens its own WITH [RECURSIVE]
    * merges into the prelude's CTE list (one WITH clause per statement). */
  private def g(body: String): String = {
    val b = body.stripMargin.trim
    val up = b.toUpperCase
    if (up.startsWith("WITH RECURSIVE "))
      G.replaceFirst("WITH", "WITH RECURSIVE") + ",\n" + b.substring(15)
    else if (up.startsWith("WITH "))
      G + ",\n" + b.substring(5)
    else G + "\n" + b
  }

  // ---------------------------------------------------------------------
  // BI queries
  // ---------------------------------------------------------------------

  // bi-1: posting summary — CASE bucketing + conditional shares vs a
  // scalar total (reference bi-1.sql). One scan, one hash agg; the
  // scalar total broadcasts.
  built("q_ldbc_bi1", g(
    """SELECT CAST(day(m_creationdate) AS BIGINT) AS messageDay,
      |       m_c_replyof IS NOT NULL AS isComment,
      |       CASE WHEN m_length < 120 THEN 0 WHEN m_length < 240 THEN 1
      |            WHEN m_length < 360 THEN 2 ELSE 3 END AS lengthCategory,
      |       count(*) AS messageCount,
      |       avg(m_length) AS averageMessageLength,
      |       CAST(sum(m_length) AS BIGINT) AS sumMessageLength,
      |       CAST(count(*) AS DOUBLE) / (SELECT 0.0 + count(*) FROM message
      |                                   WHERE m_creationdate < TIMESTAMP '2024-01-25 00:00:00') AS percentageOfMessages
      |FROM message
      |WHERE m_creationdate < TIMESTAMP '2024-01-25 00:00:00'
      |GROUP BY 1, 2, 3
      |ORDER BY messageDay DESC, isComment, lengthCategory""")) { (s, dir) =>
    val cutoff = "2024-01-25 00:00:00"
    val m = message(s, dir).where(col("m_creationdate") < lit(cutoff).cast("timestamp"))
    val total = m.agg((lit(0.0) + count(lit(1))).as("cnt_"))
    m.select(
        dayofmonth(col("m_creationdate")).cast("bigint").as("messageDay"),
        col("m_c_replyof").isNotNull.as("isComment"),
        when(col("m_length") < 120, 0).when(col("m_length") < 240, 1)
          .when(col("m_length") < 360, 2).otherwise(3).as("lengthCategory"),
        col("m_length"))
      .groupBy("messageDay", "isComment", "lengthCategory")
      .agg(count(lit(1)).as("messageCount"),
        avg(col("m_length")).as("averageMessageLength"),
        sum(col("m_length")).as("sumMessageLength"))
      .crossJoin(broadcast(total))
      .select(col("messageDay"), col("isComment"), col("lengthCategory"),
        col("messageCount"), col("averageMessageLength"), col("sumMessageLength"),
        (col("messageCount").cast("double") / col("cnt_")).as("percentageOfMessages"))
      .orderBy(col("messageDay").desc, col("isComment"), col("lengthCategory"))
  }

  // bi-2: tag evolution — conditional count-DISTINCT windows per tag,
  // |diff| ranking (reference bi-2.sql). message_tag shuffles once on
  // tagid; tag dim broadcasts.
  built("q_ldbc_bi2", g(
    """SELECT t_name AS tag_name,
      |  count(DISTINCT CASE WHEN day(m_creationdate) BETWEEN 5 AND 9 THEN m_messageid END) AS countWindow1,
      |  count(DISTINCT CASE WHEN day(m_creationdate) BETWEEN 10 AND 14 THEN m_messageid END) AS countWindow2,
      |  abs(count(DISTINCT CASE WHEN day(m_creationdate) BETWEEN 5 AND 9 THEN m_messageid END)
      |    - count(DISTINCT CASE WHEN day(m_creationdate) BETWEEN 10 AND 14 THEN m_messageid END)) AS diff
      |FROM message m, message_tag mt, tag t
      |WHERE m.m_messageid = mt.mt_messageid AND mt.mt_tagid = t.t_tagid
      |  AND m_creationdate >= TIMESTAMP '2024-01-05 00:00:00'
      |  AND m_creationdate <  TIMESTAMP '2024-01-15 00:00:00'
      |GROUP BY t_name
      |ORDER BY diff DESC, tag_name LIMIT 100""")) { (s, dir) =>
    val m = message(s, dir)
      .where(col("m_creationdate") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
             col("m_creationdate") < lit("2024-01-15 00:00:00").cast("timestamp"))
    val w1 = countDistinct(when(dayofmonth(col("m_creationdate")).between(5, 9),
      col("m_messageid")))
    val w2 = countDistinct(when(dayofmonth(col("m_creationdate")).between(10, 14),
      col("m_messageid")))
    m.join(messageTag(s, dir), col("m_messageid") === col("mt_messageid"))
      .join(broadcast(tag(s, dir)), col("mt_tagid") === col("t_tagid"))
      .groupBy(col("t_name").as("tag_name"))
      .agg(w1.as("countWindow1"), w2.as("countWindow2"),
        abs(w1 - w2).as("diff"))
      .orderBy(col("diff").desc, col("tag_name"))
      .limit(100)
  }

  // bi-3: popular topics in a country — the 8-table dim chain
  // tagclass→tag→message_tag→message→forum→moderator→city→country
  // (reference bi-3.sql). All dims broadcast; message_tag⋈message is
  // the one real shuffle.
  built("q_ldbc_bi3", g(
    """SELECT f.f_forumid AS forum_id, f.f_title AS forum_title,
      |       f.f_creationdate AS forum_creationdate, f.f_moderatorid AS person_id,
      |       count(DISTINCT p.m_messageid) AS postCount
      |FROM tagclass tc, tag t, message_tag pt, message p, forum f, person m,
      |     city ci, country co
      |WHERE tc.tc_tagclassid = t.t_tagclassid AND t.t_tagid = pt.mt_tagid
      |  AND pt.mt_messageid = p.m_messageid AND p.m_ps_forumid = f.f_forumid
      |  AND f.f_moderatorid = m.p_personid AND m.p_placeid = ci.pl_placeid
      |  AND ci.pl_containerplaceid = co.pl_placeid
      |  AND tc.tc_name = 'class_7' AND co.pl_name = 'ASIA'
      |GROUP BY f.f_forumid, f.f_title, f.f_creationdate, f.f_moderatorid
      |ORDER BY postCount DESC, forum_id LIMIT 20""")) { (s, dir) =>
    val tcl = tagclass(s, dir).where(col("tc_name") === "class_7")
    val moderatorInAsia = forum(s, dir)
      .join(broadcast(person(s, dir)), col("f_moderatorid") === col("p_personid"))
      .join(broadcast(city(s, dir)), col("p_placeid") === col("pl_placeid"))
      .join(broadcast(country(s, dir).where(col("pl_name") === "ASIA")
          .select(col("pl_placeid").as("co_id"))),
        col("pl_containerplaceid") === col("co_id"))
      .select("f_forumid", "f_title", "f_creationdate", "f_moderatorid")
    message(s, dir)
      .join(messageTag(s, dir), col("m_messageid") === col("mt_messageid"))
      .join(broadcast(tag(s, dir)), col("mt_tagid") === col("t_tagid"))
      .join(broadcast(tcl), col("t_tagclassid") === col("tc_tagclassid"))
      .join(broadcast(moderatorInAsia), col("m_ps_forumid") === col("f_forumid"))
      .groupBy(col("f_forumid").as("forum_id"), col("f_title").as("forum_title"),
        col("f_creationdate").as("forum_creationdate"),
        col("f_moderatorid").as("person_id"))
      .agg(countDistinct(col("m_messageid")).as("postCount"))
      .orderBy(col("postCount").desc, col("forum_id"))
      .limit(20)
  }

  // bi-4: top posters in a country — top-100 CTE reused twice (member
  // expansion + IN-subquery post filter) with a LEFT join keeping
  // post-less members (reference bi-4.sql).
  built("q_ldbc_bi4", g(
    """WITH top100_popular_forums AS (
      |  SELECT fp_forumid AS forumid
      |  FROM forum_person fp, person p, city ci, country co
      |  WHERE fp.fp_personid = p.p_personid AND p.p_placeid = ci.pl_placeid
      |    AND ci.pl_containerplaceid = co.pl_placeid AND co.pl_name = 'EUROPE'
      |  GROUP BY fp_forumid ORDER BY count(*) DESC, fp_forumid LIMIT 100)
      |SELECT au.p_personid AS person_id, au.p_firstname AS person_firstname,
      |       au.p_lastname AS person_lastname, au.p_creationdate,
      |       count(DISTINCT p.m_messageid) AS postCount
      |FROM top100_popular_forums t
      |  INNER JOIN forum_person fp ON (t.forumid = fp.fp_forumid)
      |  INNER JOIN person au ON (fp.fp_personid = au.p_personid)
      |  LEFT JOIN message p ON (au.p_personid = p.m_creatorid
      |    AND p.m_ps_forumid IN (SELECT forumid FROM top100_popular_forums)
      |    AND p.m_c_replyof IS NULL)
      |GROUP BY au.p_personid, au.p_firstname, au.p_lastname, au.p_creationdate
      |ORDER BY postCount DESC, au.p_personid LIMIT 100""")) { (s, dir) =>
    val euro = city(s, dir)
      .join(broadcast(country(s, dir).where(col("pl_name") === "EUROPE")
          .select(col("pl_placeid").as("co_id"))),
        col("pl_containerplaceid") === col("co_id"))
      .select(col("pl_placeid"))
    // the CTE is reused twice with different projections — Spark's
    // exchange reuse does not fire across them, so without an explicit
    // materialization the membership aggregate executes twice (at scale,
    // two full scans of the fact table). localCheckpoint pins the
    // 100-row result once, the way the reference materializes CTEs
    // (physical_cte.cpp).
    val top100 = forumPerson(s, dir)
      .join(broadcast(person(s, dir).select("p_personid", "p_placeid")),
        col("fp_personid") === col("p_personid"))
      .join(broadcast(euro), col("p_placeid") === col("pl_placeid"))
      .groupBy(col("fp_forumid").as("forumid"))
      .agg(count(lit(1)).as("members"))
      .orderBy(col("members").desc, col("forumid"))
      .limit(100)
      .select("forumid")
      .localCheckpoint(true)
    val posts = message(s, dir)
      .where(col("m_c_replyof").isNull)
      .join(broadcast(top100.select(col("forumid").as("pf_"))),
        col("m_ps_forumid") === col("pf_"))
      .select(col("m_creatorid"), col("m_messageid"))
    forumPerson(s, dir)
      .join(broadcast(top100), col("fp_forumid") === col("forumid"))
      .join(person(s, dir), col("fp_personid") === col("p_personid"))
      .join(posts, col("p_personid") === col("m_creatorid"), "left")
      .groupBy(col("p_personid").as("person_id"),
        col("p_firstname").as("person_firstname"),
        col("p_lastname").as("person_lastname"), col("p_creationdate"))
      .agg(countDistinct(col("m_messageid")).as("postCount"))
      .orderBy(col("postCount").desc, col("person_id"))
      .limit(100)
  }

  // bi-5: most active posters of a topic — message left-joined to its
  // replies and likes, three count-DISTINCTs, weighted score (reference
  // bi-5.sql; the reference counts likes via a string-concat pair key —
  // here the (message, liker) pair is counted directly).
  built("q_ldbc_bi5", g(
    """WITH detail AS (
      |  SELECT m.m_creatorid AS person_id,
      |         count(DISTINCT r.m_messageid) AS replyCount,
      |         count(DISTINCT l.l_messageid || '|' || l.l_personid) AS likeCount,
      |         count(DISTINCT m.m_messageid) AS messageCount
      |  FROM tag t
      |    JOIN message_tag pt ON t.t_tagid = pt.mt_tagid
      |    JOIN message m ON pt.mt_messageid = m.m_messageid
      |    LEFT JOIN message r ON m.m_messageid = r.m_c_replyof
      |    LEFT JOIN likes l ON m.m_messageid = l.l_messageid
      |  WHERE t.t_name = (SELECT p_name FROM part WHERE p_partkey = 77)
      |  GROUP BY m.m_creatorid)
      |SELECT person_id, replyCount, likeCount, messageCount,
      |       messageCount + 2*replyCount + 10*likeCount AS score
      |FROM detail ORDER BY score DESC, person_id LIMIT 100""")) { (s, dir) =>
    val tname = Tables.part(s, dir).where(col("p_partkey") === 77)
      .select(col("p_name").as("tname_"))
    val tagged = broadcast(tag(s, dir).crossJoin(broadcast(tname))
      .where(col("t_name") === col("tname_")).select("t_tagid"))
    val m = message(s, dir)
      .join(messageTag(s, dir), col("m_messageid") === col("mt_messageid"))
      .join(tagged, col("mt_tagid") === col("t_tagid"))
      .select("m_messageid", "m_creatorid")
    val r = message(s, dir).select(col("m_c_replyof").as("r_parent"),
      col("m_messageid").as("r_id"))
    m.join(r, col("m_messageid") === col("r_parent"), "left")
      .join(likes(s, dir), col("m_messageid") === col("l_messageid"), "left")
      .groupBy(col("m_creatorid").as("person_id"))
      .agg(
        countDistinct(col("r_id")).as("replyCount"),
        countDistinct(col("l_messageid"), col("l_personid")).as("likeCount"),
        countDistinct(col("m_messageid")).as("messageCount"))
      .select(col("person_id"), col("replyCount"), col("likeCount"),
        col("messageCount"),
        (col("messageCount") + lit(2) * col("replyCount") +
          lit(10) * col("likeCount")).as("score"))
      .orderBy(col("score").desc, col("person_id"))
      .limit(100)
  }

  // bi-6: authoritative users — DISTINCT (poster, liker) pairs joined to
  // a global per-person popularity sub-aggregate (reference bi-6.sql).
  // The popularity agg is small (|person|) → broadcast to the pair side.
  built("q_ldbc_bi6", g(
    """WITH poster_w_liker AS (
      |  SELECT DISTINCT m1.m_creatorid AS posterPersonid, l2.l_personid AS likerPersonid
      |  FROM tag t
      |    JOIN message_tag pt ON t.t_tagid = pt.mt_tagid
      |    JOIN message m1 ON pt.mt_messageid = m1.m_messageid
      |    LEFT JOIN likes l2 ON m1.m_messageid = l2.l_messageid
      |  WHERE t.t_name = (SELECT p_name FROM part WHERE p_partkey = 191)),
      |popularity_score AS (
      |  SELECT m3.m_creatorid AS personid, count(*) AS popularityScore
      |  FROM message m3 JOIN likes l3 ON m3.m_messageid = l3.l_messageid
      |  GROUP BY m3.m_creatorid)
      |SELECT pl.posterPersonid AS person1_id,
      |       CAST(sum(coalesce(ps.popularityScore, 0)) AS BIGINT) AS authorityScore
      |FROM poster_w_liker pl LEFT JOIN popularity_score ps
      |  ON pl.likerPersonid = ps.personid
      |GROUP BY pl.posterPersonid
      |ORDER BY authorityScore DESC, pl.posterPersonid LIMIT 100""")) { (s, dir) =>
    val tname = Tables.part(s, dir).where(col("p_partkey") === 191)
      .select(col("p_name").as("tname_"))
    val tagged = broadcast(tag(s, dir).crossJoin(broadcast(tname))
      .where(col("t_name") === col("tname_")).select("t_tagid"))
    val posterLiker = message(s, dir)
      .join(messageTag(s, dir), col("m_messageid") === col("mt_messageid"))
      .join(tagged, col("mt_tagid") === col("t_tagid"))
      .join(likes(s, dir), col("m_messageid") === col("l_messageid"), "left")
      .select(col("m_creatorid").as("posterPersonid"),
        col("l_personid").as("likerPersonid"))
      .distinct()
    val popularity = message(s, dir)
      .join(likes(s, dir), col("m_messageid") === col("l_messageid"))
      .groupBy(col("m_creatorid").as("personid"))
      .agg(count(lit(1)).as("popularityScore"))
    posterLiker
      .join(broadcast(popularity), col("likerPersonid") === col("personid"), "left")
      .groupBy(col("posterPersonid"))
      .agg(sum(coalesce(col("popularityScore"), lit(0))).as("authorityScore"))
      .select(col("posterPersonid").as("person1_id"), col("authorityScore"))
      .orderBy(col("authorityScore").desc, col("person1_id"))
      .limit(100)
  }

  // bi-7: related topics — replies to messages of a tag, counting the
  // replies' OTHER tags with a null-filtered LEFT anti self-join on
  // message_tag (reference bi-7.sql).
  built("q_ldbc_bi7", g(
    """SELECT t2.t_name AS relatedTag_name, count(*) AS cnt
      |FROM tag t
      |  INNER JOIN message_tag pt ON t.t_tagid = pt.mt_tagid
      |  INNER JOIN message c ON pt.mt_messageid = c.m_c_replyof
      |  INNER JOIN message_tag ct ON c.m_messageid = ct.mt_messageid
      |  INNER JOIN tag t2 ON ct.mt_tagid = t2.t_tagid
      |  LEFT JOIN message_tag nt ON (c.m_messageid = nt.mt_messageid
      |    AND nt.mt_tagid = pt.mt_tagid)
      |WHERE nt.mt_messageid IS NULL
      |  AND t.t_name = (SELECT p_name FROM part WHERE p_partkey = 333)
      |GROUP BY t2.t_name ORDER BY cnt DESC, relatedTag_name LIMIT 100""")) { (s, dir) =>
    val tname = Tables.part(s, dir).where(col("p_partkey") === 333)
      .select(col("p_name").as("tname_"))
    val tagged = broadcast(tag(s, dir).crossJoin(broadcast(tname))
      .where(col("t_name") === col("tname_")).select("t_tagid"))
    val mt = messageTag(s, dir)
    // replies (c) to messages carrying the given tag, keeping the parent tagid
    val replies = mt.join(tagged, col("mt_tagid") === col("t_tagid"))
      .select(col("mt_messageid").as("parent_id"), col("mt_tagid").as("parent_tag"))
      .join(message(s, dir), col("m_c_replyof") === col("parent_id"))
      .select(col("m_messageid").as("c_id"), col("parent_tag"))
    val replyTags = replies
      .join(mt.select(col("mt_messageid").as("ct_mid"), col("mt_tagid").as("ct_tag")),
        col("c_id") === col("ct_mid"))
    // anti: drop reply-tag rows where the reply also carries the parent tag
    val nt = mt.select(col("mt_messageid").as("nt_mid"), col("mt_tagid").as("nt_tag"))
    replyTags
      .join(nt, col("c_id") === col("nt_mid") && col("nt_tag") === col("parent_tag"), "left")
      .where(col("nt_mid").isNull)
      .join(broadcast(tag(s, dir).select(col("t_tagid").as("t2_id"),
          col("t_name").as("relatedTag_name"))),
        col("ct_tag") === col("t2_id"))
      .groupBy("relatedTag_name")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("relatedTag_name"))
      .limit(100)
  }

  // bi-8: central person for a tag — full-outer join of an interest CTE
  // and a message-score CTE, then a knows expansion summing friends'
  // scores (reference bi-8.sql). person_score is |person|-bounded →
  // broadcast to both sides of the knows join.
  built("q_ldbc_bi8", g(
    """WITH person_tag_interest AS (
      |  SELECT DISTINCT pt.pt_personid AS personid
      |  FROM person_tag pt, tag t
      |  WHERE pt.pt_tagid = t.t_tagid
      |    AND t.t_name = (SELECT p_name FROM part WHERE p_partkey = 555)),
      |person_message_score AS (
      |  SELECT m.m_creatorid AS personid, count(*) AS message_score
      |  FROM message m, message_tag pt, tag t
      |  WHERE m.m_messageid = pt.mt_messageid AND pt.mt_tagid = t.t_tagid
      |    AND m.m_creationdate > TIMESTAMP '2024-01-10 00:00:00'
      |    AND t.t_name = (SELECT p_name FROM part WHERE p_partkey = 555)
      |  GROUP BY m.m_creatorid),
      |person_score AS (
      |  SELECT coalesce(pti.personid, pms.personid) AS personid,
      |         CASE WHEN pti.personid IS NULL THEN 0 ELSE 100 END
      |           + coalesce(pms.message_score, 0) AS score
      |  FROM person_tag_interest pti
      |  FULL JOIN person_message_score pms ON pti.personid = pms.personid)
      |SELECT p.personid AS person_id, p.score AS score,
      |       CAST(sum(f.score) AS BIGINT) AS friendsScore
      |FROM person_score p, knows k, person_score f
      |WHERE p.personid = k.k_person1id AND k.k_person2id = f.personid
      |GROUP BY p.personid, p.score
      |ORDER BY (p.score + CAST(sum(f.score) AS BIGINT)) DESC, person_id
      |LIMIT 100""")) { (s, dir) =>
    val tname = Tables.part(s, dir).where(col("p_partkey") === 555)
      .select(col("p_name").as("tname_"))
    val tagged = broadcast(tag(s, dir).crossJoin(broadcast(tname))
      .where(col("t_name") === col("tname_")).select("t_tagid"))
    val interest = personTag(s, dir)
      .join(tagged, col("pt_tagid") === col("t_tagid"))
      .select(col("pt_personid").as("i_personid")).distinct()
    val msgScore = message(s, dir)
      .where(col("m_creationdate") > lit("2024-01-10 00:00:00").cast("timestamp"))
      .join(messageTag(s, dir), col("m_messageid") === col("mt_messageid"))
      .join(tagged, col("mt_tagid") === col("t_tagid"))
      .groupBy(col("m_creatorid").as("m_personid"))
      .agg(count(lit(1)).as("message_score"))
    val score = interest
      .join(msgScore, col("i_personid") === col("m_personid"), "full")
      .select(coalesce(col("i_personid"), col("m_personid")).as("personid"),
        (when(col("i_personid").isNull, 0).otherwise(100) +
          coalesce(col("message_score"), lit(0L))).as("score"))
    val friendScore = score.select(col("personid").as("f_personid"),
      col("score").as("f_score"))
    broadcast(score)
      .join(knows(s, dir), col("personid") === col("k_person1id"))
      .join(broadcast(friendScore), col("k_person2id") === col("f_personid"))
      .groupBy(col("personid").as("person_id"), col("score"))
      .agg(sum(col("f_score")).as("friendsScore"))
      .orderBy((col("score") + col("friendsScore")).desc, col("person_id"))
      .limit(100)
  }

  // bi-9: top thread initiators — RECURSIVE thread traversal from posts
  // through the reply forest, then per-initiator distinct thread/message
  // counts (reference bi-9.sql). Spark side runs the batched semi-naive
  // unionAll fixpoint; reply chains are depth ≤ 7 by construction.
  built("q_ldbc_bi9", g(
    """WITH RECURSIVE post_all(psa_threadid, psa_thread_creatorid,
      |                        psa_messageid, psa_creationdate) AS (
      |  SELECT m_messageid, m_creatorid, m_messageid, m_creationdate
      |  FROM message
      |  WHERE m_c_replyof IS NULL
      |    AND m_creationdate BETWEEN TIMESTAMP '2024-01-05 00:00:00'
      |                           AND TIMESTAMP '2024-01-25 00:00:00'
      |  UNION ALL
      |  SELECT psa.psa_threadid, psa.psa_thread_creatorid,
      |         p.m_messageid, p.m_creationdate
      |  FROM message p, post_all psa
      |  WHERE p.m_c_replyof = psa.psa_messageid
      |    AND p.m_creationdate BETWEEN TIMESTAMP '2024-01-05 00:00:00'
      |                             AND TIMESTAMP '2024-01-25 00:00:00')
      |SELECT p.p_personid AS person_id, p.p_firstname AS person_firstname,
      |       p.p_lastname AS person_lastname,
      |       count(DISTINCT psa.psa_threadid) AS threadCount,
      |       count(DISTINCT psa.psa_messageid) AS messageCount
      |FROM person p LEFT JOIN post_all psa ON p.p_personid = psa.psa_thread_creatorid
      |GROUP BY p.p_personid, p.p_firstname, p.p_lastname
      |ORDER BY messageCount DESC, person_id LIMIT 100""")) { (s, dir) =>
    val lo = lit("2024-01-05 00:00:00").cast("timestamp")
    val hi = lit("2024-01-25 00:00:00").cast("timestamp")
    val m = message(s, dir)
      .where(col("m_creationdate").between(lo, hi))
    val base = m.where(col("m_c_replyof").isNull)
      .select(col("m_messageid").as("psa_threadid"),
        col("m_creatorid").as("psa_thread_creatorid"),
        col("m_messageid").as("psa_messageid"))
    val replies = m.select(col("m_c_replyof").as("r_parent"),
      col("m_messageid").as("r_id"))
    val postAll = graft.operators.RecursiveCTE.unionAllFixpoint(
      base,
      frontier => frontier
        .join(replies, frontier("psa_messageid") === col("r_parent"))
        .select(col("psa_threadid"), col("psa_thread_creatorid"),
          col("r_id").as("psa_messageid")),
      maxIterations = 16)
    person(s, dir)
      .join(postAll, col("p_personid") === col("psa_thread_creatorid"), "left")
      .groupBy(col("p_personid").as("person_id"),
        col("p_firstname").as("person_firstname"),
        col("p_lastname").as("person_lastname"))
      .agg(countDistinct(col("psa_threadid")).as("threadCount"),
        countDistinct(col("psa_messageid")).as("messageCount"))
      .orderBy(col("messageCount").desc, col("person_id"))
      .limit(100)
  }

  // bi-10: experts in a social circle — bounded-hop BFS (UNION-dedup
  // fixpoint) from a start person, shortest hop per friend, country +
  // tagclass filters, per-(friend, tag) message counts (reference
  // bi-10-shortestpath.sql; hop bound 3, band 2..3).
  built("q_ldbc_bi10", g(
    """WITH RECURSIVE friends(hopCount, friend) AS (
      |  SELECT 0, CAST(17 AS BIGINT)
      |  UNION
      |  SELECT f.hopCount + 1, k.k_person2id
      |  FROM friends f, knows k
      |  WHERE f.friend = k.k_person1id AND f.hopCount < 3),
      |friends_shortest AS (
      |  SELECT friend, min(hopCount) AS hopCount FROM friends GROUP BY friend),
      |friend_list AS (
      |  SELECT DISTINCT f.friend AS friendid
      |  FROM friends_shortest f, person tf, city ci, country co
      |  WHERE f.friend = tf.p_personid AND tf.p_placeid = ci.pl_placeid
      |    AND ci.pl_containerplaceid = co.pl_placeid
      |    AND f.hopCount BETWEEN 2 AND 3 AND co.pl_name = 'AMERICA'),
      |expert_messages AS (
      |  SELECT DISTINCT f.friendid, m.m_messageid AS messageid, t.t_tagid
      |  FROM friend_list f, message m, message_tag pt, tag t, tagclass tc
      |  WHERE f.friendid = m.m_creatorid AND m.m_messageid = pt.mt_messageid
      |    AND pt.mt_tagid = t.t_tagid AND t.t_tagclassid = tc.tc_tagclassid
      |    AND tc.tc_name = 'class_3')
      |SELECT em.friendid AS person_id, t.t_name AS tag_name,
      |       count(DISTINCT em.messageid) AS messageCount
      |FROM expert_messages em JOIN tag t ON em.t_tagid = t.t_tagid
      |GROUP BY em.friendid, t.t_name
      |ORDER BY messageCount DESC, tag_name, person_id LIMIT 100""")) { (s, dir) =>
    import s.implicits._
    val base = Seq((0, 17L)).toDF("hopCount", "friend")
    val kn = knows(s, dir)
    val reach = graft.operators.RecursiveCTE.unionFixpoint(
      base,
      frontier => frontier.where(col("hopCount") < 3)
        .join(kn, frontier("friend") === col("k_person1id"))
        .select((col("hopCount") + 1).as("hopCount"),
          col("k_person2id").as("friend")),
      maxIterations = 8)
    val shortest = reach.groupBy(col("friend"))
      .agg(min(col("hopCount")).as("hopCount"))
      .where(col("hopCount").between(2, 3))
    val america = city(s, dir)
      .join(broadcast(country(s, dir).where(col("pl_name") === "AMERICA")
          .select(col("pl_placeid").as("co_id"))),
        col("pl_containerplaceid") === col("co_id"))
      .select(col("pl_placeid"))
    val friendList = shortest
      .join(broadcast(person(s, dir).select("p_personid", "p_placeid")),
        col("friend") === col("p_personid"))
      .join(broadcast(america), col("p_placeid") === col("pl_placeid"))
      .select(col("friend").as("friendid")).distinct()
    val cls = tagclass(s, dir).where(col("tc_name") === "class_3")
    val expert = message(s, dir)
      .join(broadcast(friendList), col("m_creatorid") === col("friendid"))
      .join(messageTag(s, dir), col("m_messageid") === col("mt_messageid"))
      .join(broadcast(tag(s, dir)), col("mt_tagid") === col("t_tagid"))
      .join(broadcast(cls), col("t_tagclassid") === col("tc_tagclassid"))
      .select(col("friendid"), col("m_messageid").as("messageid"), col("t_tagid"))
      .distinct()
    expert
      .join(broadcast(tag(s, dir).select(col("t_tagid").as("t2_id"),
          col("t_name").as("tag_name"))),
        col("t_tagid") === col("t2_id"))
      .groupBy(col("friendid").as("person_id"), col("tag_name"))
      .agg(countDistinct(col("messageid")).as("messageCount"))
      .orderBy(col("messageCount").desc, col("tag_name"), col("person_id"))
      .limit(100)
  }

  // bi-11: friend triangles — country-filtered adjacency self-joined
  // three ways with id-ordering to count each triangle once (reference
  // bi-11.sql). The adjacency list is |country's persons|·deg → the
  // triangle probe joins shuffle on personid; no cartesian anywhere.
  built("q_ldbc_bi11", g(
    """WITH pf AS (
      |  SELECT p.p_personid AS personid, k.k_person2id AS friendid
      |  FROM person p, city ci, country co, knows k
      |  WHERE p.p_placeid = ci.pl_placeid
      |    AND ci.pl_containerplaceid = co.pl_placeid
      |    AND p.p_personid = k.k_person1id AND co.pl_name = 'EUROPE')
      |SELECT count(*) AS triangleCount
      |FROM pf p1, pf p2, pf p3
      |WHERE p1.friendid = p2.personid AND p2.friendid = p3.personid
      |  AND p3.friendid = p1.personid
      |  AND p1.personid < p2.personid AND p2.personid < p3.personid""")) { (s, dir) =>
    val euro = city(s, dir)
      .join(broadcast(country(s, dir).where(col("pl_name") === "EUROPE")
          .select(col("pl_placeid").as("co_id"))),
        col("pl_containerplaceid") === col("co_id"))
      .select(col("pl_placeid"))
    val pf = person(s, dir).select("p_personid", "p_placeid")
      .join(broadcast(euro), col("p_placeid") === col("pl_placeid"))
      .join(knows(s, dir), col("p_personid") === col("k_person1id"))
      .select(col("p_personid").as("personid"), col("k_person2id").as("friendid"))
    val p1 = pf.select(col("personid").as("a"), col("friendid").as("ab"))
    val p2 = pf.select(col("personid").as("b"), col("friendid").as("bc"))
    val p3 = pf.select(col("personid").as("c"), col("friendid").as("ca"))
    p1.join(p2, col("ab") === col("b"))
      .join(p3, col("bc") === col("c"))
      .where(col("ca") === col("a") && col("a") < col("b") && col("b") < col("c"))
      .agg(count(lit(1)).as("triangleCount"))
  }

  // bi-13: zombies — members with fewer posts than days-of-membership
  // (HAVING over a LEFT join), then their like-graph split by
  // zombie/non-zombie likers with a ratio (reference bi-13.sql; the
  // month arithmetic becomes day arithmetic on the one-month fixture).
  built("q_ldbc_bi13", g(
    """WITH zombies AS (
      |  SELECT p.p_personid AS zombieid
      |  FROM country co, city ci, person p
      |    LEFT JOIN message m ON (p.p_personid = m.m_creatorid
      |      AND m.m_creationdate BETWEEN p.p_creationdate
      |                               AND TIMESTAMP '2024-01-25 00:00:00')
      |  WHERE co.pl_placeid = ci.pl_containerplaceid AND ci.pl_placeid = p.p_placeid
      |    AND co.pl_name = 'AFRICA'
      |    AND p.p_creationdate < TIMESTAMP '2024-01-25 00:00:00'
      |  GROUP BY p.p_personid, p.p_creationdate
      |  HAVING count(m.m_messageid) <
      |    date_diff('day', p.p_creationdate, TIMESTAMP '2024-01-25 00:00:00') + 1)
      |SELECT z.zombieid AS zombie_id,
      |       count(zl.zombieid) AS zombieLikeCount,
      |       count(l.l_personid) AS totalLikeCount,
      |       CASE WHEN count(l.l_personid) = 0 THEN CAST(0 AS DOUBLE)
      |            ELSE CAST(count(zl.zombieid) AS DOUBLE) / count(l.l_personid)
      |       END AS zombieScore
      |FROM message m
      |  INNER JOIN likes l ON m.m_messageid = l.l_messageid
      |  INNER JOIN person p ON (l.l_personid = p.p_personid
      |    AND p.p_creationdate < TIMESTAMP '2024-01-25 00:00:00')
      |  LEFT JOIN zombies zl ON p.p_personid = zl.zombieid
      |  RIGHT JOIN zombies z ON z.zombieid = m.m_creatorid
      |GROUP BY z.zombieid ORDER BY zombieScore DESC, zombie_id LIMIT 100""")) { (s, dir) =>
    val endT = lit("2024-01-25 00:00:00").cast("timestamp")
    val africa = city(s, dir)
      .join(broadcast(country(s, dir).where(col("pl_name") === "AFRICA")
          .select(col("pl_placeid").as("co_id"))),
        col("pl_containerplaceid") === col("co_id"))
      .select(col("pl_placeid"))
    val zombies = person(s, dir)
      .where(col("p_creationdate") < endT)
      .join(broadcast(africa), col("p_placeid") === col("pl_placeid"))
      .join(message(s, dir),
        col("p_personid") === col("m_creatorid") &&
          col("m_creationdate").between(col("p_creationdate"), endT), "left")
      .groupBy(col("p_personid"), col("p_creationdate"))
      .agg(count(col("m_messageid")).as("n_msgs"))
      .where(col("n_msgs") <
        datediff(to_date(endT), to_date(col("p_creationdate"))).cast("bigint") + 1)
      .select(col("p_personid").as("zombieid"))
    val zl = zombies.select(col("zombieid").as("zl_id"))
    val likesToMsgs = message(s, dir)
      .join(likes(s, dir), col("m_messageid") === col("l_messageid"))
      .join(person(s, dir).where(col("p_creationdate") < endT)
          .select(col("p_personid")),
        col("l_personid") === col("p_personid"))
      .join(broadcast(zl), col("p_personid") === col("zl_id"), "left")
      .select(col("m_creatorid"), col("l_personid"), col("zl_id"))
    // zombies is the preserved side of this LEFT join, which Spark
    // cannot broadcast: no hint here
    zombies
      .join(likesToMsgs, col("zombieid") === col("m_creatorid"), "left")
      .groupBy(col("zombieid").as("zombie_id"))
      .agg(count(col("zl_id")).as("zombieLikeCount"),
        count(col("l_personid")).as("totalLikeCount"))
      .select(col("zombie_id"), col("zombieLikeCount"), col("totalLikeCount"),
        when(col("totalLikeCount") === 0, lit(0.0))
          .otherwise(col("zombieLikeCount").cast("double") / col("totalLikeCount"))
          .as("zombieScore"))
      .orderBy(col("zombieScore").desc, col("zombie_id"))
      .limit(100)
  }

  // bi-14: international dialog — reply/like interactions between two
  // countries' members, per-case DISTINCT pair scoring, summed per pair
  // (reference bi-14.sql, the three-case core of its four-case union).
  built("q_ldbc_bi14", g(
    """WITH person1_list AS (
      |  SELECT p.p_personid AS personid
      |  FROM country co, city ci, person p
      |  WHERE co.pl_placeid = ci.pl_containerplaceid AND ci.pl_placeid = p.p_placeid
      |    AND co.pl_name = 'ASIA'),
      |person2_list AS (
      |  SELECT p.p_personid AS personid
      |  FROM country co, city ci, person p
      |  WHERE co.pl_placeid = ci.pl_containerplaceid AND ci.pl_placeid = p.p_placeid
      |    AND co.pl_name = 'AMERICA'),
      |case1 AS (
      |  SELECT DISTINCT p1.personid AS person1id, p2.personid AS person2id, 4 AS score
      |  FROM person1_list p1, person2_list p2, message m, message r
      |  WHERE m.m_messageid = r.m_c_replyof
      |    AND p1.personid = r.m_creatorid AND p2.personid = m.m_creatorid),
      |case2 AS (
      |  SELECT DISTINCT p1.personid AS person1id, p2.personid AS person2id, 1 AS score
      |  FROM person1_list p1, person2_list p2, message m, message r
      |  WHERE m.m_messageid = r.m_c_replyof
      |    AND p2.personid = r.m_creatorid AND p1.personid = m.m_creatorid),
      |case3 AS (
      |  SELECT DISTINCT p1.personid AS person1id, p2.personid AS person2id, 10 AS score
      |  FROM person1_list p1, person2_list p2, message m, likes l
      |  WHERE m.m_messageid = l.l_messageid
      |    AND p1.personid = l.l_personid AND p2.personid = m.m_creatorid)
      |SELECT person1id, person2id, CAST(sum(score) AS BIGINT) AS score
      |FROM (SELECT * FROM case1 UNION ALL SELECT * FROM case2
      |      UNION ALL SELECT * FROM case3) cases
      |GROUP BY person1id, person2id
      |ORDER BY score DESC, person1id, person2id LIMIT 100""")) { (s, dir) =>
    def countryPersons(name: String): DataFrame = {
      val co = city(s, dir)
        .join(broadcast(country(s, dir).where(col("pl_name") === name)
            .select(col("pl_placeid").as("co_id"))),
          col("pl_containerplaceid") === col("co_id"))
        .select(col("pl_placeid"))
      person(s, dir).select("p_personid", "p_placeid")
        .join(broadcast(co), col("p_placeid") === col("pl_placeid"))
        .select(col("p_personid"))
    }
    val p1 = broadcast(countryPersons("ASIA").select(col("p_personid").as("p1_id")))
    val p2 = broadcast(countryPersons("AMERICA").select(col("p_personid").as("p2_id")))
    val m = message(s, dir).select(col("m_messageid").as("parent_id"),
      col("m_creatorid").as("parent_creator"))
    val r = message(s, dir).select(col("m_c_replyof").as("r_parent"),
      col("m_creatorid").as("reply_creator"))
    val replyPairs = m.join(r, col("parent_id") === col("r_parent"))
    val case1 = replyPairs
      .join(p1, col("reply_creator") === col("p1_id"))
      .join(p2, col("parent_creator") === col("p2_id"))
      .select(col("p1_id").as("person1id"), col("p2_id").as("person2id"),
        lit(4).as("score")).distinct()
    val case2 = replyPairs
      .join(p2, col("reply_creator") === col("p2_id"))
      .join(p1, col("parent_creator") === col("p1_id"))
      .select(col("p1_id").as("person1id"), col("p2_id").as("person2id"),
        lit(1).as("score")).distinct()
    val case3 = message(s, dir)
      .join(likes(s, dir), col("m_messageid") === col("l_messageid"))
      .join(p1, col("l_personid") === col("p1_id"))
      .join(p2, col("m_creatorid") === col("p2_id"))
      .select(col("p1_id").as("person1id"), col("p2_id").as("person2id"),
        lit(10).as("score")).distinct()
    case1.unionAll(case2).unionAll(case3)
      .groupBy("person1id", "person2id")
      .agg(sum(col("score")).as("score"))
      .orderBy(col("score").desc, col("person1id"), col("person2id"))
      .limit(100)
  }

  // ---------------------------------------------------------------------
  // interactive-complex subset (reference interactive-complex-*.sql)
  // ---------------------------------------------------------------------

  /** friends ∪ friends-of-friends of `id` (the two-hop UNION block every
    * interactive-complex query opens with). */
  private def twoHop(s: SparkSession, dir: String, id: Long): DataFrame = {
    val kn = knows(s, dir)
    val oneHop = kn.where(col("k_person1id") === id).select(col("k_person2id"))
    val second = kn.select(col("k_person1id").as("h1"), col("k_person2id").as("h2"))
    oneHop.unionAll(
        oneHop.select(col("k_person2id").as("mid"))
          .join(second, col("mid") === col("h1"))
          .where(col("h2") =!= id)
          .select(col("h2").as("k_person2id")))
      .distinct()
  }

  // ic-2: recent messages of direct friends (reference
  // interactive-complex-2.sql) — knows edge filter + top-20 by time.
  built("q_ldbc_ic2", g(
    """SELECT p.p_personid AS person_id, p.p_firstname AS person_firstname,
      |       p.p_lastname AS person_lastname, m.m_messageid AS message_id,
      |       m.m_length, m.m_creationdate
      |FROM person p, message m, knows k
      |WHERE p.p_personid = m.m_creatorid
      |  AND m.m_creationdate < TIMESTAMP '2024-01-20 00:00:00'
      |  AND k.k_person1id = 42 AND k.k_person2id = p.p_personid
      |ORDER BY m.m_creationdate DESC, message_id LIMIT 20""")) { (s, dir) =>
    val friends = knows(s, dir).where(col("k_person1id") === 42)
      .select(col("k_person2id"))
    message(s, dir)
      .where(col("m_creationdate") < lit("2024-01-20 00:00:00").cast("timestamp"))
      .join(broadcast(friends), col("m_creatorid") === col("k_person2id"))
      .join(broadcast(person(s, dir)), col("m_creatorid") === col("p_personid"))
      .select(col("p_personid").as("person_id"),
        col("p_firstname").as("person_firstname"),
        col("p_lastname").as("person_lastname"),
        col("m_messageid").as("message_id"),
        col("m_length"), col("m_creationdate"))
      .orderBy(col("m_creationdate").desc, col("message_id"))
      .limit(20)
  }

  // ic-3: friends-of-friends active in two locations — two grouped
  // count subqueries inner-joined on the two-hop friend set (reference
  // interactive-complex-3.sql; the city→country hop is collapsed to the
  // fixture's nation-level location ids).
  built("q_ldbc_ic3", g(
    """WITH f AS (
      |  SELECT k_person2id FROM knows WHERE k_person1id = 42
      |  UNION
      |  SELECT k2.k_person2id FROM knows k1, knows k2
      |  WHERE k1.k_person1id = 42 AND k1.k_person2id = k2.k_person1id
      |    AND k2.k_person2id <> 42),
      |cta AS (SELECT m_creatorid, count(*) AS ct1 FROM message
      |        WHERE m_locationid = 3
      |          AND m_creationdate >= TIMESTAMP '2024-01-05 00:00:00'
      |          AND m_creationdate <  TIMESTAMP '2024-01-25 00:00:00'
      |        GROUP BY m_creatorid),
      |ctb AS (SELECT m_creatorid, count(*) AS ct2 FROM message
      |        WHERE m_locationid = 7
      |          AND m_creationdate >= TIMESTAMP '2024-01-05 00:00:00'
      |          AND m_creationdate <  TIMESTAMP '2024-01-25 00:00:00'
      |        GROUP BY m_creatorid)
      |SELECT p.p_personid AS person_id, p.p_firstname AS person_firstname,
      |       p.p_lastname AS person_lastname, cta.ct1, ctb.ct2,
      |       cta.ct1 + ctb.ct2 AS total
      |FROM f, person p, cta, ctb
      |WHERE f.k_person2id = p.p_personid
      |  AND p.p_placeid <> 3 AND p.p_placeid <> 7
      |  AND f.k_person2id = cta.m_creatorid AND f.k_person2id = ctb.m_creatorid
      |ORDER BY total DESC, person_id LIMIT 20""")) { (s, dir) =>
    val lo = lit("2024-01-05 00:00:00").cast("timestamp")
    val hi = lit("2024-01-25 00:00:00").cast("timestamp")
    def locCount(loc: Int, out: String): DataFrame =
      message(s, dir)
        .where(col("m_locationid") === loc &&
          col("m_creationdate") >= lo && col("m_creationdate") < hi)
        .groupBy(col("m_creatorid").as(s"mc_$out"))
        .agg(count(lit(1)).as(out))
    person(s, dir)
      .where(col("p_placeid") =!= 3 && col("p_placeid") =!= 7)
      .join(broadcast(twoHop(s, dir, 42)), col("p_personid") === col("k_person2id"))
      .join(locCount(3, "ct1"), col("p_personid") === col("mc_ct1"))
      .join(locCount(7, "ct2"), col("p_personid") === col("mc_ct2"))
      .select(col("p_personid").as("person_id"),
        col("p_firstname").as("person_firstname"),
        col("p_lastname").as("person_lastname"),
        col("ct1"), col("ct2"), (col("ct1") + col("ct2")).as("total"))
      .orderBy(col("total").desc, col("person_id"))
      .limit(20)
  }

  // ic-5: new forum activity of the social circle — membership since a
  // date, posts by members in those forums kept via LEFT join (reference
  // interactive-complex-5.sql).
  built("q_ldbc_ic5", g(
    """WITH f AS (
      |  SELECT k_person2id FROM knows WHERE k_person1id = 42
      |  UNION
      |  SELECT k2.k_person2id FROM knows k1, knows k2
      |  WHERE k1.k_person1id = 42 AND k1.k_person2id = k2.k_person1id
      |    AND k2.k_person2id <> 42),
      |memb AS (
      |  SELECT f_forumid, f_title, f.k_person2id AS pid
      |  FROM forum, forum_person, f
      |  WHERE f_forumid = fp_forumid AND fp_personid = f.k_person2id
      |    AND fp_creationdate >= TIMESTAMP '2024-01-05 00:00:00')
      |SELECT memb.f_forumid AS forum_id, memb.f_title AS forum_title,
      |       count(m_messageid) AS postCount
      |FROM memb LEFT JOIN message
      |  ON memb.f_forumid = m_ps_forumid AND m_creatorid = memb.pid
      |GROUP BY memb.f_forumid, memb.f_title
      |ORDER BY postCount DESC, forum_id LIMIT 20""")) { (s, dir) =>
    val memb = forumPerson(s, dir)
      .where(col("fp_creationdate") >= lit("2024-01-05 00:00:00").cast("timestamp"))
      .join(broadcast(twoHop(s, dir, 42)), col("fp_personid") === col("k_person2id"))
      .join(broadcast(forum(s, dir).select("f_forumid", "f_title")),
        col("fp_forumid") === col("f_forumid"))
      .select(col("f_forumid"), col("f_title"), col("fp_personid").as("pid"))
    memb.join(message(s, dir),
        col("f_forumid") === col("m_ps_forumid") && col("m_creatorid") === col("pid"),
        "left")
      .groupBy(col("f_forumid").as("forum_id"), col("f_title").as("forum_title"))
      .agg(count(col("m_messageid")).as("postCount"))
      .orderBy(col("postCount").desc, col("forum_id"))
      .limit(20)
  }

  // ic-6: tag co-occurrence — posts by the two-hop circle carrying a
  // given tag (EXISTS semi-join), counting the co-tags (reference
  // interactive-complex-6.sql).
  built("q_ldbc_ic6", g(
    """WITH f AS (
      |  SELECT k_person2id FROM knows WHERE k_person1id = 42
      |  UNION
      |  SELECT k2.k_person2id FROM knows k1, knows k2
      |  WHERE k1.k_person1id = 42 AND k1.k_person2id = k2.k_person1id
      |    AND k2.k_person2id <> 42)
      |SELECT t_name AS tag_name, count(*) AS cnt
      |FROM tag, message_tag, message, f
      |WHERE m_creatorid = f.k_person2id AND m_c_replyof IS NULL
      |  AND m_messageid = mt_messageid AND mt_tagid = t_tagid
      |  AND t_name <> (SELECT p_name FROM part WHERE p_partkey = 99)
      |  AND EXISTS (SELECT 1 FROM message_tag mt2, tag t2
      |              WHERE mt2.mt_messageid = m_messageid
      |                AND mt2.mt_tagid = t2.t_tagid
      |                AND t2.t_name = (SELECT p_name FROM part WHERE p_partkey = 99))
      |GROUP BY t_name ORDER BY cnt DESC, tag_name LIMIT 10""")) { (s, dir) =>
    val tname = Tables.part(s, dir).where(col("p_partkey") === 99)
      .select(col("p_name").as("tname_"))
    val taggedIds = broadcast(tag(s, dir).crossJoin(broadcast(tname))
      .where(col("t_name") === col("tname_")).select("t_tagid"))
    val mt = messageTag(s, dir)
    val withGivenTag = mt.join(taggedIds, col("mt_tagid") === col("t_tagid"))
      .select(col("mt_messageid").as("given_mid")).distinct()
    message(s, dir)
      .where(col("m_c_replyof").isNull)
      .join(broadcast(twoHop(s, dir, 42)), col("m_creatorid") === col("k_person2id"))
      .join(withGivenTag, col("m_messageid") === col("given_mid"), "leftsemi")
      .join(mt, col("m_messageid") === col("mt_messageid"))
      .join(broadcast(tag(s, dir).crossJoin(broadcast(tname))),
        col("mt_tagid") === col("t_tagid"))
      .where(col("t_name") =!= col("tname_"))
      .groupBy(col("t_name").as("tag_name"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tag_name"))
      .limit(10)
  }

  // ic-7: most recent likers — per-liker max like time (top-20), joined
  // back to the liked message, friend-or-not flag via an EXISTS on knows
  // (reference interactive-complex-7.sql).
  built("q_ldbc_ic7", g(
    """WITH recent AS (
      |  SELECT l_personid, max(l_creationdate) AS like_time
      |  FROM likes, message
      |  WHERE m_messageid = l_messageid AND m_creatorid = 42
      |  GROUP BY l_personid ORDER BY like_time DESC, l_personid LIMIT 20)
      |SELECT p.p_personid AS person_id, p.p_firstname AS person_firstname,
      |       p.p_lastname AS person_lastname, r.like_time,
      |       m.m_messageid AS message_id,
      |       CASE WHEN EXISTS (SELECT 1 FROM knows
      |                         WHERE k_person1id = 42
      |                           AND k_person2id = p.p_personid)
      |            THEN 0 ELSE 1 END AS isnew
      |FROM recent r, person p, likes l, message m
      |WHERE p.p_personid = r.l_personid AND r.l_personid = l.l_personid
      |  AND r.like_time = l.l_creationdate AND l.l_messageid = m.m_messageid
      |  AND m.m_creatorid = 42
      |ORDER BY like_time DESC, person_id, message_id LIMIT 40""")) { (s, dir) =>
    val my = message(s, dir).where(col("m_creatorid") === 42)
      .select(col("m_messageid"))
    val myLikes = likes(s, dir)
      .join(broadcast(my), col("l_messageid") === col("m_messageid"))
    val recent = myLikes
      .groupBy(col("l_personid"))
      .agg(max(col("l_creationdate")).as("like_time"))
      .orderBy(col("like_time").desc, col("l_personid"))
      .limit(20)
      .select(col("l_personid").as("r_personid"), col("like_time"))
    val friendsOf42 = knows(s, dir).where(col("k_person1id") === 42)
      .select(col("k_person2id").as("fr_id"))
    myLikes
      .join(broadcast(recent),
        col("l_personid") === col("r_personid") &&
          col("l_creationdate") === col("like_time"))
      .join(broadcast(person(s, dir)), col("l_personid") === col("p_personid"))
      .join(broadcast(friendsOf42), col("p_personid") === col("fr_id"), "left")
      .select(col("p_personid").as("person_id"),
        col("p_firstname").as("person_firstname"),
        col("p_lastname").as("person_lastname"), col("like_time"),
        col("l_messageid").as("message_id"),
        when(col("fr_id").isNull, 1).otherwise(0).as("isnew"))
      .orderBy(col("like_time").desc, col("person_id"), col("message_id"))
      .limit(40)
  }

  final override def toString: String = "Ldbc"
}
