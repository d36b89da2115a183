package graft.queries

/** JOB (Join Order Benchmark) families 1-17 — all 63 variants the
  * reference ships for them (`/root/reference/benchmark/imdb/
  * 01a-17f.benchmark`, query texts under
  * `benchmark/imdb_plan_cost/queries/`) — paraphrased onto the TPC-H
  * fixtures. JOB is the canonical join-ORDER stress: a
  * large link fact touched 2-3 times, a movie entity, and several tiny
  * dimensions carrying highly selective predicates; a plan that joins
  * fact-to-fact before applying the dim filters explodes, one that
  * starts from the filtered dims stays small.
  *
  * The IMDB schema is re-created as derived projections of the
  * fixtures, preserving every join key's role. Each query is one text: a
  * WITH defining these relations over the fixtures, then the query, run
  * as is by the engine's front door and by the DuckDB oracle:
  *   title           <- orders   (id, title, production_year, kind_id)
  *   movie_companies <- lineitem (movie_id, company_id, company_type_id, note)
  *   movie_info_idx  <- lineitem (movie_id, info_type_id, info)
  *   movie_info      <- lineitem (movie_id, info_type_id, info)
  *   movie_keyword   <- lineitem (movie_id, keyword_id)
  *   movie_link      <- lineitem (linked_movie_id, link_type_id)
  *   cast_info       <- lineitem (movie_id, person_id, person_role_id,
  *                                role_id, note)
  *   company_type    <- nation   (id, kind)       [tiny dim]
  *   link_type       <- nation   (id, link)       [tiny dim]
  *   info_type       <- region   (id, info)       [tiny dim]
  *   role_type       <- region   (id, role)       [tiny dim]
  *   company_name    <- supplier (id, name, country_code)
  *   keyword         <- part     (id, keyword)
  *   char_name       <- part     (id, name)
  *   name            <- customer (id, name, gender, name_pcode_cf)
  *   aka_name        <- customer (person_id, name)
  *   person_info     <- customer (person_id, info_type_id, note, info)
  *
  * Query texts are the reference's own (FROM-comma join graphs, MIN()
  * aggregates), with only the predicate CONSTANTS rescaled to fixture
  * value ranges (years 2005-2015 -> 1995-2001, country codes/keywords ->
  * fixture strings) so each variant keeps its selectivity character.
  * Derivations are pure arithmetic/concat, so the DuckDB oracle computes
  * identical relations and every variant is gated oracle-exact.
  *
  * Scale shape: Catalyst turns the comma-join WHERE graph into inner
  * joins (ReorderJoin clusters by connectedness — no cartesians), the
  * tiny dims broadcast, and the repeated lineitem scans shuffle on
  * l_orderkey once each. PlanSpec asserts no CartesianProduct/BNLJ
  * across all 35. At 100 TB the same plan holds: dim broadcasts are
  * O(KB), and the fact-fact joins are key-partitioned merges.
  */
object Job extends Pack {

  /** Derived-relation SQL, the WITH prefix of every JOB query. */
  val rels: Seq[(String, String)] = Seq(
    "title" ->
      ("SELECT o_orderkey AS id, concat('Movie #', CAST(o_orderkey AS STRING)) AS title, " +
        "CAST(year(o_orderdate) AS INT) AS production_year, (o_orderkey % 5) AS kind_id, " +
        "CAST(o_orderkey % 200 AS INT) AS episode_nr FROM orders"),
    "movie_companies" ->
      ("SELECT l_orderkey AS movie_id, l_suppkey AS company_id, (l_linenumber % 4) AS company_type_id, " +
        "concat(l_returnflag, '/', l_linestatus, ' (', CAST(l_partkey % 100 AS STRING), ')') AS note FROM lineitem"),
    "movie_info_idx" ->
      ("SELECT l_orderkey AS movie_id, (l_suppkey % 5) AS info_type_id, " +
        "CAST(l_quantity AS STRING) AS info FROM lineitem"),
    "movie_info" ->
      ("SELECT l_orderkey AS movie_id, (l_partkey % 5) AS info_type_id, " +
        "concat('Info_', CAST(l_partkey % 20 AS STRING)) AS info, " +
        "concat('st_', l_linestatus, '_', CAST(l_linenumber AS STRING)) AS note FROM lineitem"),
    "movie_keyword" ->
      "SELECT l_orderkey AS movie_id, l_partkey AS keyword_id FROM lineitem",
    "movie_link" ->
      ("SELECT l_orderkey AS movie_id, l_orderkey AS linked_movie_id, " +
        "(l_suppkey % 8) AS link_type_id FROM lineitem"),
    "cast_info" ->
      ("SELECT l_orderkey AS movie_id, ((l_orderkey * 7 + l_linenumber) % 10) AS person_id, " +
        "l_partkey AS person_role_id, (l_linenumber % 5) AS role_id, " +
        "concat('(role ', CAST(l_partkey % 50 AS STRING), ')') AS note FROM lineitem"),
    "company_type" -> "SELECT n_nationkey AS id, n_name AS kind FROM nation",
    "comp_cast_type" -> "SELECT r_regionkey AS id, r_name AS kind FROM region",
    // subject/status draw from moduli coprime to kind_id's (% 5) so a
    // cct filter can never contradict a kind_type filter on the same movie
    "complete_cast" ->
      ("SELECT o_orderkey AS movie_id, ((o_orderkey % 11) % 5) AS subject_id, " +
        "((o_orderkey % 7) % 5) AS status_id FROM orders"),
    "link_type" -> "SELECT n_nationkey AS id, n_name AS link FROM nation",
    "info_type" -> "SELECT r_regionkey AS id, r_name AS info FROM region",
    "role_type" -> "SELECT r_regionkey AS id, r_name AS role FROM region",
    "kind_type" -> "SELECT r_regionkey AS id, r_name AS kind FROM region",
    "aka_title" ->
      ("SELECT o_orderkey AS movie_id, concat('AKA Movie #', CAST(o_orderkey AS STRING)) AS title " +
        "FROM orders WHERE o_orderkey % 3 = 0"),
    "company_name" ->
      ("SELECT s_suppkey AS id, s_name AS name, " +
        "concat('[', CAST(s_nationkey % 10 AS STRING), ']') AS country_code FROM supplier"),
    "keyword" -> "SELECT p_partkey AS id, p_type AS keyword FROM part",
    "char_name" -> "SELECT p_partkey AS id, p_name AS name FROM part",
    "name" ->
      ("SELECT c_custkey AS id, c_name AS name, " +
        "CASE WHEN c_custkey % 2 = 0 THEN 'f' ELSE 'm' END AS gender, " +
        "substring(c_name, 1, 1) AS name_pcode_cf FROM customer"),
    "aka_name" ->
      "SELECT c_custkey AS person_id, concat('aka ', c_name) AS name FROM customer",
    "person_info" ->
      ("SELECT c_custkey AS person_id, (c_custkey % 5) AS info_type_id, " +
        "c_mktsegment AS note, c_mktsegment AS info FROM customer"))

  private[queries] val cte: String =
    rels.map { case (n, s) => s"$n AS ($s)" }.mkString(", ")

  private def job(name: String)(body: String): Unit =
    q(name, s"WITH $cte\n${body.stripMargin.trim}")

  // ---- family 1: ct ⋈ mc ⋈ t ⋈ mi_idx ⋈ it -------------------------------
  private def f1(name: String, itInfo: String, extra: String): Unit =
    job(name)(
      s"""SELECT MIN(mc.note) AS production_note,
         |       MIN(t.title) AS movie_title,
         |       MIN(t.production_year) AS movie_year
         |FROM company_type AS ct, info_type AS it, movie_companies AS mc,
         |     movie_info_idx AS mi_idx, title AS t
         |WHERE ct.kind = 'NATION_2'
         |  AND it.info = '$itInfo'
         |  AND mc.note NOT LIKE '%(99)%'
         |  $extra
         |  AND ct.id = mc.company_type_id
         |  AND t.id = mc.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND mc.movie_id = mi_idx.movie_id
         |  AND it.id = mi_idx.info_type_id""")
  f1("q_job01a", "ASIA",
    "AND (mc.note LIKE '%(1%' OR mc.note LIKE '%(2%')")
  f1("q_job01b", "EUROPE",
    "AND t.production_year BETWEEN 1997 AND 1999")
  f1("q_job01c", "ASIA",
    "AND (mc.note LIKE '%(1%') AND t.production_year > 1999")
  f1("q_job01d", "EUROPE", "AND t.production_year > 1997")

  // ---- family 2: cn ⋈ mc ⋈ t ⋈ mk ⋈ k ------------------------------------
  private def f2(name: String, cc: String): Unit =
    job(name)(
      s"""SELECT MIN(t.title) AS movie_title
         |FROM company_name AS cn, keyword AS k, movie_companies AS mc,
         |     movie_keyword AS mk, title AS t
         |WHERE cn.country_code = '$cc'
         |  AND k.keyword = 'PROMO'
         |  AND cn.id = mc.company_id
         |  AND mc.movie_id = t.id
         |  AND t.id = mk.movie_id
         |  AND mk.keyword_id = k.id
         |  AND mc.movie_id = mk.movie_id""")
  f2("q_job02a", "[7]")
  f2("q_job02b", "[5]")
  f2("q_job02c", "[3]")
  f2("q_job02d", "[1]")

  // ---- family 3: k ⋈ mk ⋈ t ⋈ mi -----------------------------------------
  private def f3(name: String, infos: String, yr: String): Unit =
    job(name)(
      s"""SELECT MIN(t.title) AS movie_title
         |FROM keyword AS k, movie_info AS mi, movie_keyword AS mk, title AS t
         |WHERE k.keyword LIKE '%ECO%'
         |  AND mi.info IN ($infos)
         |  AND t.production_year > $yr
         |  AND t.id = mi.movie_id
         |  AND t.id = mk.movie_id
         |  AND mk.movie_id = mi.movie_id
         |  AND k.id = mk.keyword_id""")
  f3("q_job03a",
    "'Info_1', 'Info_2', 'Info_3', 'Info_4', 'Info_5', 'Info_6', 'Info_7', 'Info_8'",
    "1998")
  f3("q_job03b", "'Info_1'", "1999")
  f3("q_job03c",
    "'Info_1', 'Info_2', 'Info_3', 'Info_4', 'Info_5', 'Info_6', 'Info_7', " +
      "'Info_8', 'Info_9', 'Info_10'", "1995")

  // ---- family 4: it ⋈ mi_idx ⋈ t ⋈ mk ⋈ k --------------------------------
  private def f4(name: String, cut: String, yr: String): Unit =
    job(name)(
      s"""SELECT MIN(mi_idx.info) AS rating,
         |       MIN(t.title) AS movie_title
         |FROM info_type AS it, keyword AS k, movie_info_idx AS mi_idx,
         |     movie_keyword AS mk, title AS t
         |WHERE it.info = 'AMERICA'
         |  AND k.keyword LIKE '%ECO%'
         |  AND mi_idx.info > '$cut'
         |  AND t.production_year > $yr
         |  AND t.id = mi_idx.movie_id
         |  AND t.id = mk.movie_id
         |  AND mk.movie_id = mi_idx.movie_id
         |  AND k.id = mk.keyword_id
         |  AND it.id = mi_idx.info_type_id""")
  f4("q_job04a", "5.0", "1998")
  f4("q_job04b", "9.0", "1999")
  f4("q_job04c", "2.0", "1995")

  // ---- family 5: ct ⋈ mc ⋈ t ⋈ mi ⋈ it -----------------------------------
  private def f5(name: String, alias: String, noteFilter: String,
      infos: String, yr: String): Unit =
    job(name)(
      s"""SELECT MIN(t.title) AS $alias
         |FROM company_type AS ct, info_type AS it, movie_companies AS mc,
         |     movie_info AS mi, title AS t
         |WHERE ct.kind = 'NATION_2'
         |  $noteFilter
         |  AND mi.info IN ($infos)
         |  AND t.production_year > $yr
         |  AND t.id = mi.movie_id
         |  AND t.id = mc.movie_id
         |  AND mc.movie_id = mi.movie_id
         |  AND ct.id = mc.company_type_id
         |  AND it.id = mi.info_type_id""")
  f5("q_job05a", "typical_european_movie",
    "AND mc.note LIKE '%(1%' AND mc.note LIKE '%7)%'",
    "'Info_1', 'Info_2', 'Info_3', 'Info_4', 'Info_5', 'Info_6', 'Info_7', 'Info_8'",
    "1998")
  f5("q_job05b", "american_vhs_movie",
    "AND mc.note LIKE '%(1%' AND mc.note LIKE '%A/%' AND mc.note LIKE '%4)%'",
    "'Info_1', 'Info_2'", "1999")
  f5("q_job05c", "american_movie",
    "AND mc.note NOT LIKE '%(9%' AND mc.note LIKE '%A/%'",
    "'Info_1', 'Info_2', 'Info_3', 'Info_4', 'Info_5', 'Info_6', 'Info_7', " +
      "'Info_8', 'Info_9', 'Info_10'", "1995")

  // ---- family 6: ci ⋈ k ⋈ mk ⋈ n ⋈ t -------------------------------------
  private def f6(name: String, alias: String, kFilter: String, yr: String,
      nameFilter: String): Unit =
    job(name)(
      s"""SELECT MIN(k.keyword) AS movie_keyword,
         |       MIN(n.name) AS actor_name,
         |       MIN(t.title) AS $alias
         |FROM cast_info AS ci, keyword AS k, movie_keyword AS mk,
         |     name AS n, title AS t
         |WHERE $kFilter
         |  $nameFilter
         |  AND t.production_year > $yr
         |  AND k.id = mk.keyword_id
         |  AND t.id = mk.movie_id
         |  AND t.id = ci.movie_id
         |  AND ci.movie_id = mk.movie_id
         |  AND n.id = ci.person_id""")
  private val kwMarvel = "k.keyword = 'PROMO'"
  private val kwIn =
    "k.keyword IN ('PROMO', 'ECONOMY', 'LARGE', 'SMALL', 'STANDARD', 'MEDIUM', 'BRUSHED', 'PLATED')"
  private val nDowney = "AND n.name LIKE '%Customer%0%1%'"
  f6("q_job06a", "marvel_movie", kwMarvel, "1999", nDowney)
  f6("q_job06b", "hero_movie", kwIn, "2000", nDowney)
  f6("q_job06c", "marvel_movie", kwMarvel, "2000", nDowney)
  f6("q_job06d", "hero_movie", kwIn, "1995", nDowney)
  f6("q_job06e", "marvel_movie", kwMarvel, "1995", nDowney)
  f6("q_job06f", "hero_movie", kwIn, "1995", "")

  // ---- family 7: an ⋈ ci ⋈ it ⋈ lt ⋈ ml ⋈ n ⋈ pi ⋈ t ---------------------
  private def f7(name: String, sel: String, anFilter: String, ltFilter: String,
      nFilter: String, piFilter: String, years: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM aka_name AS an, cast_info AS ci, info_type AS it,
         |     link_type AS lt, movie_link AS ml, name AS n,
         |     person_info AS pi, title AS t
         |WHERE $anFilter
         |  AND it.info = 'MIDDLE EAST'
         |  AND $ltFilter
         |  $nFilter
         |  AND $piFilter
         |  AND t.production_year BETWEEN $years
         |  AND n.id = an.person_id
         |  AND n.id = pi.person_id
         |  AND ci.person_id = n.id
         |  AND t.id = ci.movie_id
         |  AND ml.linked_movie_id = t.id
         |  AND lt.id = ml.link_type_id
         |  AND it.id = pi.info_type_id
         |  AND pi.person_id = an.person_id
         |  AND pi.person_id = ci.person_id
         |  AND an.person_id = ci.person_id
         |  AND ci.movie_id = ml.linked_movie_id""")
  f7("q_job07a",
    "MIN(n.name) AS of_person, MIN(t.title) AS biography_movie",
    "an.name LIKE '%a%'", "lt.link = 'NATION_3'",
    """AND n.name_pcode_cf BETWEEN 'A' AND 'F'
      |  AND (n.gender = 'm' OR (n.gender = 'f' AND n.name LIKE 'C%'))""".stripMargin,
    "pi.note = 'BUILDING'", "1995 AND 1998")
  f7("q_job07b",
    "MIN(n.name) AS of_person, MIN(t.title) AS biography_movie",
    "an.name LIKE '%a%'", "lt.link = 'NATION_3'",
    "AND n.name_pcode_cf LIKE 'C%' AND n.gender = 'm'",
    "pi.note = 'BUILDING'", "1995 AND 1996")
  f7("q_job07c",
    "MIN(n.name) AS cast_member_name, MIN(pi.info) AS cast_member_info",
    "an.name IS NOT NULL AND (an.name LIKE '%a%' OR an.name LIKE 'A%')",
    "lt.link IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')",
    """AND n.name_pcode_cf BETWEEN 'A' AND 'F'
      |  AND (n.gender = 'm' OR (n.gender = 'f' AND n.name LIKE 'A%'))""".stripMargin,
    "pi.note IS NOT NULL", "1995 AND 2001")

  // ---- family 8: an ⋈ ci ⋈ cn ⋈ mc ⋈ n ⋈ rt ⋈ t --------------------------
  private def f8(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM aka_name AS an1, cast_info AS ci, company_name AS cn,
         |     movie_companies AS mc, name AS n1, role_type AS rt, title AS t
         |WHERE $filters
         |  AND an1.person_id = n1.id
         |  AND n1.id = ci.person_id
         |  AND ci.movie_id = t.id
         |  AND t.id = mc.movie_id
         |  AND mc.company_id = cn.id
         |  AND ci.role_id = rt.id
         |  AND an1.person_id = ci.person_id
         |  AND ci.movie_id = mc.movie_id""")
  f8("q_job08a",
    "MIN(an1.name) AS actress_pseudonym, MIN(t.title) AS japanese_movie_dubbed",
    """ci.note = '(role 7)'
      |  AND cn.country_code = '[2]'
      |  AND mc.note LIKE '%(3%'
      |  AND mc.note NOT LIKE '%(9%'
      |  AND n1.name LIKE '%00%'
      |  AND n1.name NOT LIKE '%9%'
      |  AND rt.role = 'EUROPE'""".stripMargin)
  f8("q_job08b",
    "MIN(an1.name) AS acress_pseudonym, MIN(t.title) AS japanese_anime_movie",
    """ci.note = '(role 7)'
      |  AND cn.country_code = '[2]'
      |  AND mc.note LIKE '%(3%'
      |  AND mc.note NOT LIKE '%(9%'
      |  AND (mc.note LIKE '%(31)%' OR mc.note LIKE '%(32)%')
      |  AND n1.name LIKE '%00%'
      |  AND n1.name NOT LIKE '%9%'
      |  AND rt.role = 'EUROPE'
      |  AND t.production_year BETWEEN 1997 AND 1998
      |  AND (t.title LIKE 'Movie #1%' OR t.title LIKE 'Movie #2%')""".stripMargin)
  f8("q_job08c",
    "MIN(an1.name) AS writer_pseudo_name, MIN(t.title) AS movie_title",
    "cn.country_code = '[1]' AND rt.role = 'AMERICA'")
  f8("q_job08d",
    "MIN(an1.name) AS costume_designer_pseudo, MIN(t.title) AS movie_with_costumes",
    "cn.country_code = '[1]' AND rt.role = 'AFRICA'")

  // ---- family 9: an ⋈ chn ⋈ ci ⋈ cn ⋈ mc ⋈ n ⋈ rt ⋈ t --------------------
  private def f9(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM aka_name AS an, char_name AS chn, cast_info AS ci,
         |     company_name AS cn, movie_companies AS mc, name AS n,
         |     role_type AS rt, title AS t
         |WHERE $filters
         |  AND ci.movie_id = t.id
         |  AND t.id = mc.movie_id
         |  AND ci.movie_id = mc.movie_id
         |  AND mc.company_id = cn.id
         |  AND ci.role_id = rt.id
         |  AND n.id = ci.person_id
         |  AND chn.id = ci.person_role_id
         |  AND an.person_id = n.id
         |  AND an.person_id = ci.person_id""")
  f9("q_job09a",
    "MIN(an.name) AS alternative_name, MIN(chn.name) AS character_name, MIN(t.title) AS movie",
    """ci.note IN ('(role 1)', '(role 2)', '(role 3)', '(role 4)')
      |  AND cn.country_code = '[1]'
      |  AND mc.note IS NOT NULL
      |  AND (mc.note LIKE '%(1%' OR mc.note LIKE '%(2%')
      |  AND n.gender = 'f'
      |  AND n.name LIKE '%000%'
      |  AND rt.role = 'EUROPE'
      |  AND t.production_year BETWEEN 1996 AND 2000""".stripMargin)
  f9("q_job09b",
    "MIN(an.name) AS alternative_name, MIN(chn.name) AS voiced_character, " +
      "MIN(n.name) AS voicing_actress, MIN(t.title) AS american_movie",
    """ci.note = '(role 1)'
      |  AND cn.country_code = '[1]'
      |  AND mc.note LIKE '%(2%)%'
      |  AND n.gender = 'f'
      |  AND n.name LIKE '%00001%'
      |  AND rt.role = 'EUROPE'
      |  AND t.production_year BETWEEN 1997 AND 2000""".stripMargin)
  f9("q_job09c",
    "MIN(an.name) AS alternative_name, MIN(chn.name) AS voiced_character_name, " +
      "MIN(n.name) AS voicing_actress, MIN(t.title) AS american_movie",
    """ci.note IN ('(role 1)', '(role 2)', '(role 3)', '(role 4)')
      |  AND cn.country_code = '[1]'
      |  AND n.gender = 'f'
      |  AND n.name LIKE '%00%'
      |  AND rt.role = 'EUROPE'""".stripMargin)
  f9("q_job09d",
    "MIN(an.name) AS alternative_name, MIN(chn.name) AS voiced_char_name, " +
      "MIN(n.name) AS voicing_actress, MIN(t.title) AS american_movie",
    """ci.note IN ('(role 1)', '(role 2)', '(role 3)', '(role 4)')
      |  AND cn.country_code = '[1]'
      |  AND n.gender = 'f'
      |  AND rt.role = 'EUROPE'""".stripMargin)

  // ---- family 10: chn ⋈ ci ⋈ cn ⋈ ct ⋈ mc ⋈ rt ⋈ t -----------------------
  private def f10(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM char_name AS chn, cast_info AS ci, company_name AS cn,
         |     company_type AS ct, movie_companies AS mc, role_type AS rt,
         |     title AS t
         |WHERE $filters
         |  AND t.id = mc.movie_id
         |  AND t.id = ci.movie_id
         |  AND ci.movie_id = mc.movie_id
         |  AND chn.id = ci.person_role_id
         |  AND rt.id = ci.role_id
         |  AND cn.id = mc.company_id
         |  AND ct.id = mc.company_type_id""")
  f10("q_job10a",
    "MIN(chn.name) AS uncredited_voiced_character, MIN(t.title) AS russian_movie",
    """ci.note LIKE '%role 1%'
      |  AND ci.note LIKE '%1)%'
      |  AND cn.country_code = '[4]'
      |  AND rt.role = 'ASIA'
      |  AND t.production_year > 1998""".stripMargin)
  f10("q_job10b",
    "MIN(chn.name) AS chr_name, MIN(t.title) AS russian_mov_with_actor_producer",
    """ci.note LIKE '%role 2%'
      |  AND cn.country_code = '[4]'
      |  AND rt.role = 'ASIA'
      |  AND t.production_year > 1999""".stripMargin)
  f10("q_job10c",
    "MIN(chn.name) AS chr_name, MIN(t.title) AS movie_with_american_producer",
    """ci.note LIKE '%role 2%'
      |  AND cn.country_code = '[1]'
      |  AND t.production_year > 1995""".stripMargin)

  // ---- family 11: link-typed sequels — cn ⋈ ct ⋈ k ⋈ lt ⋈ mc ⋈ mk ⋈ ml ⋈ t
  private def f11(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM company_name AS cn, company_type AS ct, keyword AS k,
         |     link_type AS lt, movie_companies AS mc, movie_keyword AS mk,
         |     movie_link AS ml, title AS t
         |WHERE $filters
         |  AND lt.id = ml.link_type_id
         |  AND ml.movie_id = t.id
         |  AND t.id = mk.movie_id
         |  AND mk.keyword_id = k.id
         |  AND t.id = mc.movie_id
         |  AND mc.company_type_id = ct.id
         |  AND mc.company_id = cn.id
         |  AND ml.movie_id = mk.movie_id
         |  AND ml.movie_id = mc.movie_id
         |  AND mk.movie_id = mc.movie_id""")
  f11("q_job11a",
    "MIN(cn.name) AS from_company, MIN(lt.link) AS movie_link_type, MIN(t.title) AS sequel_movie",
    """cn.country_code != '[0]'
      |  AND (cn.name LIKE '%plier#00000001%' OR cn.name LIKE '%plier#00000002%')
      |  AND ct.kind = 'NATION_2'
      |  AND k.keyword = 'PROMO'
      |  AND lt.link LIKE '%TION_1%'
      |  AND mc.note IS NOT NULL
      |  AND t.production_year BETWEEN 1995 AND 2000""".stripMargin)
  f11("q_job11b",
    "MIN(cn.name) AS from_company, MIN(lt.link) AS movie_link_type, MIN(t.title) AS sequel_movie",
    """cn.country_code != '[0]'
      |  AND (cn.name LIKE '%plier#00000001%' OR cn.name LIKE '%plier#00000002%')
      |  AND ct.kind = 'NATION_2'
      |  AND k.keyword = 'PROMO'
      |  AND lt.link LIKE '%TION_12%'
      |  AND mc.note IS NOT NULL
      |  AND t.production_year = 1998
      |  AND t.title LIKE '%7%'""".stripMargin)
  f11("q_job11c",
    "MIN(cn.name) AS from_company, MIN(mc.note) AS production_note, MIN(t.title) AS movie_based_on_book",
    """cn.country_code != '[0]'
      |  AND (cn.name LIKE 'Supplier#0000000%' OR cn.name LIKE 'Supplier#0000001%')
      |  AND ct.kind != 'NATION_2'
      |  AND ct.kind IS NOT NULL
      |  AND k.keyword IN ('PROMO', 'ECONOMY', 'SMALL')
      |  AND mc.note IS NOT NULL
      |  AND t.production_year > 1995""".stripMargin)
  f11("q_job11d",
    "MIN(cn.name) AS from_company, MIN(mc.note) AS production_note, MIN(t.title) AS movie_based_on_book",
    """cn.country_code != '[0]'
      |  AND ct.kind != 'NATION_2'
      |  AND ct.kind IS NOT NULL
      |  AND k.keyword IN ('PROMO', 'ECONOMY', 'SMALL')
      |  AND mc.note IS NOT NULL
      |  AND t.production_year > 1995""".stripMargin)

  // ---- family 12: double info_type fan — cn ⋈ ct ⋈ it1 ⋈ it2 ⋈ mc ⋈ mi ⋈ mi_idx ⋈ t
  private def f12(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM company_name AS cn, company_type AS ct, info_type AS it1,
         |     info_type AS it2, movie_companies AS mc, movie_info AS mi,
         |     movie_info_idx AS mi_idx, title AS t
         |WHERE $filters
         |  AND t.id = mi.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND mi.info_type_id = it1.id
         |  AND mi_idx.info_type_id = it2.id
         |  AND t.id = mc.movie_id
         |  AND ct.id = mc.company_type_id
         |  AND cn.id = mc.company_id
         |  AND mc.movie_id = mi.movie_id
         |  AND mc.movie_id = mi_idx.movie_id
         |  AND mi.movie_id = mi_idx.movie_id""")
  f12("q_job12a",
    "MIN(cn.name) AS movie_company, MIN(mi_idx.info) AS rating, MIN(t.title) AS drama_horror_movie",
    """cn.country_code = '[4]'
      |  AND ct.kind = 'NATION_2'
      |  AND it1.info = 'ASIA'
      |  AND it2.info = 'EUROPE'
      |  AND mi.info IN ('Info_3', 'Info_8')
      |  AND mi_idx.info > '30'
      |  AND t.production_year BETWEEN 1996 AND 1999""".stripMargin)
  f12("q_job12b",
    "MIN(mi.info) AS budget, MIN(t.title) AS unsuccsessful_movie",
    """cn.country_code = '[4]'
      |  AND ct.kind IS NOT NULL
      |  AND (ct.kind = 'NATION_2' OR ct.kind = 'NATION_5')
      |  AND it1.info = 'AFRICA'
      |  AND it2.info = 'AMERICA'
      |  AND t.production_year > 1997
      |  AND (t.title LIKE 'Movie #1%' OR t.title LIKE '%3%')""".stripMargin)
  f12("q_job12c",
    "MIN(cn.name) AS movie_company, MIN(mi_idx.info) AS rating, MIN(t.title) AS mainstream_movie",
    """cn.country_code = '[4]'
      |  AND ct.kind = 'NATION_2'
      |  AND it1.info = 'ASIA'
      |  AND it2.info = 'EUROPE'
      |  AND mi.info IN ('Info_3', 'Info_8', 'Info_12', 'Info_17')
      |  AND mi_idx.info > '25'
      |  AND t.production_year BETWEEN 1995 AND 2000""".stripMargin)

  // ---- family 13: kind_type joins in — cn ⋈ ct ⋈ it ⋈ it2 ⋈ kt ⋈ mc ⋈ mi ⋈ miidx ⋈ t
  private def f13(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM company_name AS cn, company_type AS ct, info_type AS it,
         |     info_type AS it2, kind_type AS kt, movie_companies AS mc,
         |     movie_info AS mi, movie_info_idx AS miidx, title AS t
         |WHERE $filters
         |  AND mi.movie_id = t.id
         |  AND it2.id = mi.info_type_id
         |  AND kt.id = t.kind_id
         |  AND mc.movie_id = t.id
         |  AND cn.id = mc.company_id
         |  AND ct.id = mc.company_type_id
         |  AND miidx.movie_id = t.id
         |  AND it.id = miidx.info_type_id
         |  AND mi.movie_id = miidx.movie_id
         |  AND mi.movie_id = mc.movie_id
         |  AND miidx.movie_id = mc.movie_id""")
  f13("q_job13a",
    "MIN(mi.info) AS release_date, MIN(miidx.info) AS rating, MIN(t.title) AS german_movie",
    """cn.country_code = '[3]'
      |  AND ct.kind = 'NATION_2'
      |  AND it.info = 'EUROPE'
      |  AND it2.info = 'AFRICA'
      |  AND kt.kind = 'ASIA'""".stripMargin)
  f13("q_job13b",
    "MIN(cn.name) AS producing_company, MIN(miidx.info) AS rating, MIN(t.title) AS movie_about_winning",
    """cn.country_code = '[4]'
      |  AND ct.kind = 'NATION_2'
      |  AND it.info = 'EUROPE'
      |  AND it2.info = 'AFRICA'
      |  AND kt.kind = 'ASIA'
      |  AND t.title != ''
      |  AND (t.title LIKE '%7%' OR t.title LIKE '%9%')""".stripMargin)
  f13("q_job13c",
    "MIN(cn.name) AS producing_company, MIN(miidx.info) AS rating, MIN(t.title) AS movie_about_winning",
    """cn.country_code = '[4]'
      |  AND ct.kind = 'NATION_2'
      |  AND it.info = 'EUROPE'
      |  AND it2.info = 'AFRICA'
      |  AND kt.kind = 'ASIA'
      |  AND t.title != ''
      |  AND (t.title LIKE 'Movie #1%' OR t.title LIKE 'Movie #2%')""".stripMargin)
  f13("q_job13d",
    "MIN(cn.name) AS producing_company, MIN(miidx.info) AS rating, MIN(t.title) AS movie",
    """cn.country_code = '[4]'
      |  AND ct.kind = 'NATION_2'
      |  AND it.info = 'EUROPE'
      |  AND it2.info = 'AFRICA'
      |  AND kt.kind = 'ASIA'""".stripMargin)

  // ---- family 14: keyword + kind + double info — it1 ⋈ it2 ⋈ k ⋈ kt ⋈ mi ⋈ mi_idx ⋈ mk ⋈ t
  private def f14(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM info_type AS it1, info_type AS it2, keyword AS k,
         |     kind_type AS kt, movie_info AS mi, movie_info_idx AS mi_idx,
         |     movie_keyword AS mk, title AS t
         |WHERE $filters
         |  AND kt.id = t.kind_id
         |  AND t.id = mi.movie_id
         |  AND t.id = mk.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND mk.movie_id = mi.movie_id
         |  AND mk.movie_id = mi_idx.movie_id
         |  AND mi.movie_id = mi_idx.movie_id
         |  AND k.id = mk.keyword_id
         |  AND it1.id = mi.info_type_id
         |  AND it2.id = mi_idx.info_type_id""")
  f14("q_job14a",
    "MIN(mi_idx.info) AS rating, MIN(t.title) AS northern_dark_movie",
    """it1.info = 'AFRICA'
      |  AND it2.info = 'EUROPE'
      |  AND k.keyword IN ('PROMO', 'ECONOMY', 'SMALL', 'LARGE')
      |  AND kt.kind = 'ASIA'
      |  AND mi.info IN ('Info_1', 'Info_2', 'Info_4', 'Info_6', 'Info_8',
      |                  'Info_10', 'Info_12', 'Info_14', 'Info_16', 'Info_18')
      |  AND mi_idx.info < '44'
      |  AND t.production_year > 1998""".stripMargin)
  f14("q_job14b",
    "MIN(mi_idx.info) AS rating, MIN(t.title) AS western_dark_production",
    """it1.info = 'AFRICA'
      |  AND it2.info = 'EUROPE'
      |  AND k.keyword IN ('PROMO', 'ECONOMY')
      |  AND kt.kind = 'ASIA'
      |  AND mi.info IN ('Info_1', 'Info_2', 'Info_4', 'Info_6', 'Info_8',
      |                  'Info_10', 'Info_12', 'Info_14', 'Info_16', 'Info_18')
      |  AND mi_idx.info > '20'
      |  AND t.production_year > 1998
      |  AND (t.title LIKE '%0%' OR t.title LIKE '%5%' OR t.title LIKE '%9%')""".stripMargin)
  f14("q_job14c",
    "MIN(mi_idx.info) AS rating, MIN(t.title) AS north_european_dark_production",
    """it1.info = 'AFRICA'
      |  AND it2.info = 'EUROPE'
      |  AND k.keyword IS NOT NULL
      |  AND k.keyword IN ('PROMO', 'ECONOMY', 'SMALL', 'LARGE')
      |  AND kt.kind IN ('ASIA', 'EUROPE')
      |  AND mi.info IN ('Info_1', 'Info_2', 'Info_4', 'Info_6', 'Info_8',
      |                  'Info_10', 'Info_12', 'Info_14', 'Info_16', 'Info_18')
      |  AND mi_idx.info < '44'
      |  AND t.production_year > 1996""".stripMargin)

  // ---- family 15: aka_title widens the movie entity — at ⋈ cn ⋈ ct ⋈ it1 ⋈ k ⋈ mc ⋈ mi ⋈ mk ⋈ t
  private def f15(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM aka_title AS at_, company_name AS cn, company_type AS ct,
         |     info_type AS it1, keyword AS k, movie_companies AS mc,
         |     movie_info AS mi, movie_keyword AS mk, title AS t
         |WHERE $filters
         |  AND t.id = at_.movie_id
         |  AND t.id = mi.movie_id
         |  AND t.id = mk.movie_id
         |  AND t.id = mc.movie_id
         |  AND mk.movie_id = mi.movie_id
         |  AND mk.movie_id = mc.movie_id
         |  AND mk.movie_id = at_.movie_id
         |  AND mi.movie_id = mc.movie_id
         |  AND mi.movie_id = at_.movie_id
         |  AND mc.movie_id = at_.movie_id
         |  AND k.id = mk.keyword_id
         |  AND it1.id = mi.info_type_id
         |  AND cn.id = mc.company_id
         |  AND ct.id = mc.company_type_id""")
  f15("q_job15a",
    "MIN(mi.info) AS release_date, MIN(t.title) AS internet_movie",
    """cn.country_code = '[4]'
      |  AND it1.info = 'AFRICA'
      |  AND mc.note LIKE '%(2%)%'
      |  AND mc.note LIKE '%/F%'
      |  AND mi.note LIKE '%st_O%'
      |  AND mi.info LIKE 'Info_1%'
      |  AND t.production_year > 1996""".stripMargin)
  f15("q_job15b",
    "MIN(mi.info) AS release_date, MIN(t.title) AS youtube_movie",
    """cn.country_code = '[4]'
      |  AND cn.name = 'Supplier#000000007'
      |  AND it1.info = 'AFRICA'
      |  AND mc.note LIKE '%(2%)%'
      |  AND mc.note LIKE '%/F%'
      |  AND mi.note LIKE '%st_O%'
      |  AND mi.info LIKE 'Info_1%'
      |  AND t.production_year BETWEEN 1996 AND 2000""".stripMargin)
  f15("q_job15c",
    "MIN(mi.info) AS release_date, MIN(t.title) AS modern_american_internet_movie",
    """cn.country_code = '[4]'
      |  AND it1.info = 'AFRICA'
      |  AND mi.note LIKE '%st_O%'
      |  AND mi.info IS NOT NULL
      |  AND (mi.info LIKE 'Info_1%' OR mi.info LIKE 'Info_2%')
      |  AND t.production_year > 1995""".stripMargin)
  f15("q_job15d",
    "MIN(at_.title) AS aka_title, MIN(t.title) AS internet_movie_title",
    """cn.country_code = '[4]'
      |  AND it1.info = 'AFRICA'
      |  AND mi.note LIKE '%st_O%'
      |  AND t.production_year > 1995""".stripMargin)

  // ---- family 16: person chain an ⋈ n ⋈ ci ⋈ t ⋈ mk ⋈ k, mc ⋈ cn --------
  private def f16(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM aka_name AS an, cast_info AS ci, company_name AS cn,
         |     keyword AS k, movie_companies AS mc, movie_keyword AS mk,
         |     name AS n, title AS t
         |WHERE $filters
         |  AND an.person_id = n.id
         |  AND n.id = ci.person_id
         |  AND ci.movie_id = t.id
         |  AND t.id = mk.movie_id
         |  AND mk.keyword_id = k.id
         |  AND t.id = mc.movie_id
         |  AND mc.company_id = cn.id
         |  AND an.person_id = ci.person_id
         |  AND ci.movie_id = mc.movie_id
         |  AND ci.movie_id = mk.movie_id
         |  AND mc.movie_id = mk.movie_id""")
  f16("q_job16a",
    "MIN(an.name) AS cool_actor_pseudonym, MIN(t.title) AS series_named_after_char",
    """cn.country_code = '[4]'
      |  AND k.keyword = 'STANDARD'
      |  AND t.episode_nr >= 50
      |  AND t.episode_nr < 100""".stripMargin)
  f16("q_job16b",
    "MIN(an.name) AS cool_actor_pseudonym, MIN(t.title) AS series_named_after_char",
    """cn.country_code = '[4]'
      |  AND k.keyword = 'STANDARD'""".stripMargin)
  f16("q_job16c",
    "MIN(an.name) AS cool_actor_pseudonym, MIN(t.title) AS series_named_after_char",
    """cn.country_code = '[4]'
      |  AND k.keyword = 'STANDARD'
      |  AND t.episode_nr < 100""".stripMargin)
  f16("q_job16d",
    "MIN(an.name) AS cool_actor_pseudonym, MIN(t.title) AS series_named_after_char",
    """cn.country_code = '[4]'
      |  AND k.keyword = 'STANDARD'
      |  AND t.episode_nr >= 5
      |  AND t.episode_nr < 100""".stripMargin)

  // ---- family 17: same graph minus aka_name -------------------------------
  private def f17(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM cast_info AS ci, company_name AS cn, keyword AS k,
         |     movie_companies AS mc, movie_keyword AS mk, name AS n,
         |     title AS t
         |WHERE $filters
         |  AND n.id = ci.person_id
         |  AND ci.movie_id = t.id
         |  AND t.id = mk.movie_id
         |  AND mk.keyword_id = k.id
         |  AND t.id = mc.movie_id
         |  AND mc.company_id = cn.id
         |  AND ci.movie_id = mc.movie_id
         |  AND ci.movie_id = mk.movie_id
         |  AND mc.movie_id = mk.movie_id""")
  f17("q_job17a",
    "MIN(n.name) AS member_in_charnamed_american_movie, MIN(n.name) AS a1",
    """cn.country_code = '[4]'
      |  AND k.keyword = 'STANDARD'
      |  AND n.name LIKE 'Customer#00000000%'""".stripMargin)
  f17("q_job17b",
    "MIN(n.name) AS member_in_charnamed_movie, MIN(n.name) AS a1",
    """k.keyword = 'STANDARD'
      |  AND n.name LIKE 'Customer#0000001%'""".stripMargin)
  f17("q_job17c",
    "MIN(n.name) AS member_in_charnamed_movie, MIN(n.name) AS a1",
    """k.keyword = 'STANDARD'
      |  AND n.name LIKE 'Customer#0000002%'""".stripMargin)
  f17("q_job17d",
    "MIN(n.name) AS member_in_charnamed_movie",
    """k.keyword = 'STANDARD'
      |  AND n.name LIKE '%0008%'""".stripMargin)
  f17("q_job17e",
    "MIN(n.name) AS member_in_charnamed_movie",
    """cn.country_code = '[4]'
      |  AND k.keyword = 'STANDARD'""".stripMargin)
  f17("q_job17f",
    "MIN(n.name) AS member_in_charnamed_movie",
    """k.keyword = 'STANDARD'
      |  AND n.name LIKE '%000003%'""".stripMargin)
}
