package graft.queries

/** JOB (Join Order Benchmark) families 18-33 — the remaining 48 variants
  * (`/root/reference/benchmark/imdb/18a-33c.benchmark`, query texts under
  * `benchmark/imdb_plan_cost/queries/18a.sql-33c.sql`) — completing all
  * 113 JOB shapes on the TPC-H fixtures.
  *
  * Same derivation scheme as families 1-17 (see [[Job]]): the IMDB
  * relations are pure projections of the fixture tables, the query texts
  * keep the reference's exact join graphs (FROM-comma + WHERE equalities,
  * MIN() aggregates) with only predicate CONSTANTS rescaled to fixture
  * value domains. Two relations appear first in these families:
  *
  *   complete_cast  <- orders (movie_id, subject_id, status_id)
  *   comp_cast_type <- region (id, kind)            [tiny dim]
  *
  * Constant lexicon (fixed across variants so selectivity relationships
  * between variants of a family survive the paraphrase):
  *   info_type  'genres'/'budget'/'countries' -> 'AFRICA',
  *              'votes'/'rating' -> 'EUROPE', 'release dates' -> 'AMERICA',
  *              'trivia' -> 'MIDDLE EAST', 'height' -> 'ASIA'
  *   comp_cast_type 'cast' -> 'ASIA', 'crew' -> 'AMERICA',
  *              'complete' -> 'EUROPE', 'complete+verified' -> 'MIDDLE EAST'
  *   cast_info voice notes -> '(role 10..13)', writer notes -> '(role 1..5)',
  *              producer notes -> '(role 7..8)'
  *   keyword    sets drawn from the six p_type words
  *   mi_idx.info rating cuts -> quantity strings ('15.0'..'45.0')
  *
  * Scale shape: identical to families 1-17 — ReorderJoin clusters the
  * WHERE graph (no cartesians), the region/nation-derived dims broadcast,
  * repeated lineitem-derived facts shuffle on l_orderkey. The families
  * added here stress two NEW join-order corners: the complete_cast
  * families (20/23/26-30) hang TWO tiny-dim lookups off a second
  * orders-derived fact, and family 33 is a self-join of the whole
  * star through movie_link (two independent title/mc/mi_idx arms that
  * must each collapse before the link join). PlanSpec extends the
  * no-cartesian/no-BNLJ assert over these families.
  */
object Job2 extends Pack {

  private def job(name: String)(body: String): Unit =
    q(name, s"WITH ${Job.cte}\n${body.stripMargin.trim}")

  private val writerNotes =
    "('(role 1)', '(role 2)', '(role 3)', '(role 4)', '(role 5)')"
  private val voiceNotes =
    "('(role 10)', '(role 11)', '(role 12)', '(role 13)')"
  private val murderKw = "('PROMO', 'ECONOMY', 'SMALL', 'LARGE')"
  private val heroKw =
    "('PROMO', 'ECONOMY', 'SMALL', 'LARGE', 'STANDARD', 'MEDIUM')"
  // movie_info rows carry info_type_id = k mod 5 for info='Info_k', so
  // sets joined through it1.info='AFRICA' (id 0) must draw from
  // {Info_0, Info_5, Info_10, Info_15}; wider sets keep the original
  // cardinality by padding with values on other info types.
  private val afInfos = "('Info_0', 'Info_5', 'Info_10', 'Info_15')"
  private val afWideInfos =
    "('Info_0', 'Info_5', 'Info_10', 'Info_15', 'Info_2', 'Info_4', 'Info_6', 'Info_8', 'Info_12', 'Info_16')"
  private val smallInfos = "('Info_2', 'Info_4', 'Info_6', 'Info_8')"

  // ---- family 18: producer/writer credits — ci ⋈ it1 ⋈ it2 ⋈ mi ⋈ mi_idx ⋈ n ⋈ t
  private def f18(name: String, filters: String): Unit =
    job(name)(
      s"""SELECT MIN(mi.info) AS movie_budget,
         |       MIN(mi_idx.info) AS movie_votes,
         |       MIN(t.title) AS movie_title
         |FROM cast_info AS ci, info_type AS it1, info_type AS it2,
         |     movie_info AS mi, movie_info_idx AS mi_idx, name AS n, title AS t
         |WHERE $filters
         |  AND t.id = mi.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND t.id = ci.movie_id
         |  AND ci.movie_id = mi.movie_id
         |  AND ci.movie_id = mi_idx.movie_id
         |  AND mi.movie_id = mi_idx.movie_id
         |  AND n.id = ci.person_id
         |  AND it1.id = mi.info_type_id
         |  AND it2.id = mi_idx.info_type_id""")
  f18("q_job18a",
    """ci.note IN ('(role 7)', '(role 8)')
      |  AND it1.info = 'AFRICA'
      |  AND it2.info = 'EUROPE'
      |  AND n.gender = 'm'
      |  AND n.name LIKE '%1%'""".stripMargin)
  f18("q_job18b",
    s"""ci.note IN $writerNotes
       |  AND it1.info = 'AFRICA'
       |  AND it2.info = 'EUROPE'
       |  AND mi.info IN ('Info_5', 'Info_10')
       |  AND mi.note LIKE '%st_F%'
       |  AND mi_idx.info > '45.0'
       |  AND n.gender IS NOT NULL
       |  AND n.gender = 'f'
       |  AND t.production_year BETWEEN 1997 AND 2000""".stripMargin)
  f18("q_job18c",
    s"""ci.note IN $writerNotes
       |  AND it1.info = 'AFRICA'
       |  AND it2.info = 'EUROPE'
       |  AND mi.info IN ('Info_0', 'Info_5', 'Info_10', 'Info_15', 'Info_3', 'Info_7')
       |  AND n.gender = 'm'""".stripMargin)

  // ---- family 19: voicing actress — an ⋈ chn ⋈ ci ⋈ cn ⋈ it ⋈ mc ⋈ mi ⋈ n ⋈ rt ⋈ t
  private def f19(name: String, alias: String, filters: String): Unit =
    job(name)(
      s"""SELECT MIN(n.name) AS voicing_actress,
         |       MIN(t.title) AS $alias
         |FROM aka_name AS an, char_name AS chn, cast_info AS ci,
         |     company_name AS cn, info_type AS it, movie_companies AS mc,
         |     movie_info AS mi, name AS n, role_type AS rt, title AS t
         |WHERE $filters
         |  AND t.id = mi.movie_id
         |  AND t.id = mc.movie_id
         |  AND t.id = ci.movie_id
         |  AND mc.movie_id = ci.movie_id
         |  AND mc.movie_id = mi.movie_id
         |  AND mi.movie_id = ci.movie_id
         |  AND cn.id = mc.company_id
         |  AND it.id = mi.info_type_id
         |  AND n.id = ci.person_id
         |  AND rt.id = ci.role_id
         |  AND n.id = an.person_id
         |  AND ci.person_id = an.person_id
         |  AND chn.id = ci.person_role_id""")
  f19("q_job19a", "voiced_movie",
    s"""ci.note IN $voiceNotes
       |  AND cn.country_code = '[4]'
       |  AND it.info = 'AMERICA'
       |  AND mc.note IS NOT NULL
       |  AND (mc.note LIKE '%A/%' OR mc.note LIKE '%N/%')
       |  AND mi.info IS NOT NULL
       |  AND (mi.info LIKE 'Info_1%' OR mi.info LIKE 'Info_2%')
       |  AND n.gender = 'f'
       |  AND n.name LIKE '%0%'
       |  AND rt.role = 'ASIA'
       |  AND t.production_year BETWEEN 1996 AND 1999""".stripMargin)
  f19("q_job19b", "kung_fu_panda",
    """ci.note = '(role 10)'
      |  AND cn.country_code = '[4]'
      |  AND it.info = 'AMERICA'
      |  AND mc.note LIKE '%(3%'
      |  AND (mc.note LIKE '%A/%' OR mc.note LIKE '%N/%')
      |  AND mi.info IS NOT NULL
      |  AND (mi.info LIKE 'Info_16%' OR mi.info LIKE 'Info_11%')
      |  AND n.gender = 'f'
      |  AND n.name LIKE '%002%'
      |  AND rt.role = 'ASIA'
      |  AND t.production_year BETWEEN 1997 AND 1998
      |  AND t.title LIKE '%Movie #1%2%'""".stripMargin)
  f19("q_job19c", "jap_engl_voiced_movie",
    s"""ci.note IN $voiceNotes
       |  AND cn.country_code = '[4]'
       |  AND it.info = 'AMERICA'
       |  AND mi.info IS NOT NULL
       |  AND (mi.info LIKE 'Info_1%' OR mi.info LIKE 'Info_2%')
       |  AND n.gender = 'f'
       |  AND n.name LIKE '%0%'
       |  AND rt.role = 'ASIA'
       |  AND t.production_year > 1997""".stripMargin)
  f19("q_job19d", "jap_engl_voiced_movie",
    s"""ci.note IN $voiceNotes
       |  AND cn.country_code = '[4]'
       |  AND it.info = 'AMERICA'
       |  AND n.gender = 'f'
       |  AND rt.role = 'ASIA'
       |  AND t.production_year > 1997""".stripMargin)

  // ---- family 20: complete-cast hero movies — cc ⋈ cct1 ⋈ cct2 ⋈ chn ⋈ ci ⋈ k ⋈ kt ⋈ mk ⋈ n ⋈ t
  private def f20(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM complete_cast AS cc, comp_cast_type AS cct1,
         |     comp_cast_type AS cct2, char_name AS chn, cast_info AS ci,
         |     keyword AS k, kind_type AS kt, movie_keyword AS mk,
         |     name AS n, title AS t
         |WHERE $filters
         |  AND kt.id = t.kind_id
         |  AND t.id = mk.movie_id
         |  AND t.id = ci.movie_id
         |  AND t.id = cc.movie_id
         |  AND mk.movie_id = ci.movie_id
         |  AND mk.movie_id = cc.movie_id
         |  AND ci.movie_id = cc.movie_id
         |  AND chn.id = ci.person_role_id
         |  AND n.id = ci.person_id
         |  AND k.id = mk.keyword_id
         |  AND cct1.id = cc.subject_id
         |  AND cct2.id = cc.status_id""")
  f20("q_job20a", "MIN(t.title) AS complete_downey_ironman_movie",
    s"""cct1.kind = 'ASIA'
       |  AND cct2.kind LIKE '%ROPE%'
       |  AND chn.name NOT LIKE '%old%'
       |  AND (chn.name LIKE '%red%' OR chn.name LIKE '%blue%')
       |  AND k.keyword IN $heroKw
       |  AND kt.kind = 'ASIA'
       |  AND t.production_year > 1995""".stripMargin)
  f20("q_job20b", "MIN(t.title) AS complete_downey_ironman_movie",
    s"""cct1.kind = 'ASIA'
       |  AND cct2.kind LIKE '%ROPE%'
       |  AND chn.name NOT LIKE '%old%'
       |  AND (chn.name LIKE '%red%' OR chn.name LIKE '%blue%')
       |  AND k.keyword IN $heroKw
       |  AND kt.kind = 'ASIA'
       |  AND n.name LIKE '%000000%4%'
       |  AND t.production_year > 1997""".stripMargin)
  f20("q_job20c",
    "MIN(n.name) AS cast_member, MIN(t.title) AS complete_dynamic_hero_movie",
    s"""cct1.kind = 'ASIA'
       |  AND cct2.kind LIKE '%ROPE%'
       |  AND chn.name IS NOT NULL
       |  AND (chn.name LIKE '%ring%' OR chn.name LIKE '%bolt%')
       |  AND k.keyword IN $heroKw
       |  AND kt.kind = 'ASIA'
       |  AND t.production_year > 1997""".stripMargin)

  // ---- family 21: sequel links — cn ⋈ ct ⋈ k ⋈ lt ⋈ mc ⋈ mi ⋈ mk ⋈ ml ⋈ t
  private def f21(name: String, infos: String, years: String): Unit =
    job(name)(
      s"""SELECT MIN(cn.name) AS company_name,
         |       MIN(lt.link) AS link_type,
         |       MIN(t.title) AS western_follow_up
         |FROM company_name AS cn, company_type AS ct, keyword AS k,
         |     link_type AS lt, movie_companies AS mc, movie_info AS mi,
         |     movie_keyword AS mk, movie_link AS ml, title AS t
         |WHERE cn.country_code != '[3]'
         |  AND (cn.name LIKE '%00001%' OR cn.name LIKE '%00002%')
         |  AND ct.kind = 'NATION_2'
         |  AND k.keyword = 'STANDARD'
         |  AND lt.link LIKE '%3'
         |  AND mc.note LIKE '%(99)%'
         |  AND mi.info IN ($infos)
         |  AND t.production_year BETWEEN $years
         |  AND lt.id = ml.link_type_id
         |  AND ml.movie_id = t.id
         |  AND t.id = mk.movie_id
         |  AND mk.keyword_id = k.id
         |  AND t.id = mc.movie_id
         |  AND mc.company_type_id = ct.id
         |  AND mc.company_id = cn.id
         |  AND mi.movie_id = t.id
         |  AND ml.movie_id = mk.movie_id
         |  AND ml.movie_id = mc.movie_id
         |  AND mk.movie_id = mc.movie_id
         |  AND ml.movie_id = mi.movie_id
         |  AND mk.movie_id = mi.movie_id
         |  AND mc.movie_id = mi.movie_id""")
  f21("q_job21a",
    "'Info_2', 'Info_4', 'Info_6', 'Info_8', 'Info_10', 'Info_12', 'Info_14', 'Info_16'",
    "1995 AND 1998")
  f21("q_job21b", "'Info_2', 'Info_4', 'Info_6', 'Info_8'", "1996 AND 2000")
  f21("q_job21c",
    "'Info_2', 'Info_4', 'Info_6', 'Info_8', 'Info_10', 'Info_12', 'Info_14', 'Info_16'",
    "1995 AND 2001")

  // ---- family 22: western violent movies — cn ⋈ ct ⋈ it1 ⋈ it2 ⋈ k ⋈ kt ⋈ mc ⋈ mi ⋈ mi_idx ⋈ mk ⋈ t
  private def f22(name: String, noteFilter: String, infos: String,
      idxCut: String, yr: String): Unit =
    job(name)(
      s"""SELECT MIN(cn.name) AS movie_company,
         |       MIN(mi_idx.info) AS rating,
         |       MIN(t.title) AS western_violent_movie
         |FROM company_name AS cn, company_type AS ct, info_type AS it1,
         |     info_type AS it2, keyword AS k, kind_type AS kt,
         |     movie_companies AS mc, movie_info AS mi,
         |     movie_info_idx AS mi_idx, movie_keyword AS mk, title AS t
         |WHERE cn.country_code != '[4]'
         |  AND it1.info = 'AFRICA'
         |  AND it2.info = 'EUROPE'
         |  AND k.keyword IN $murderKw
         |  AND kt.kind IN ('ASIA', 'EUROPE')
         |  $noteFilter
         |  AND mi.info IN ($infos)
         |  AND mi_idx.info $idxCut
         |  AND t.production_year > $yr
         |  AND kt.id = t.kind_id
         |  AND t.id = mi.movie_id
         |  AND t.id = mk.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND t.id = mc.movie_id
         |  AND mk.movie_id = mi.movie_id
         |  AND mk.movie_id = mi_idx.movie_id
         |  AND mk.movie_id = mc.movie_id
         |  AND mi.movie_id = mi_idx.movie_id
         |  AND mi.movie_id = mc.movie_id
         |  AND mc.movie_id = mi_idx.movie_id
         |  AND k.id = mk.keyword_id
         |  AND it1.id = mi.info_type_id
         |  AND it2.id = mi_idx.info_type_id
         |  AND ct.id = mc.company_type_id
         |  AND cn.id = mc.company_id""")
  private val mcDark =
    "AND mc.note NOT LIKE '%A/%'\n  AND mc.note LIKE '%(2%'"
  f22("q_job22a", mcDark, afInfos.drop(1).dropRight(1), "< '25.0'", "1999")
  f22("q_job22b", mcDark, afInfos.drop(1).dropRight(1), "< '25.0'", "2000")
  f22("q_job22c", mcDark, afWideInfos.drop(1).dropRight(1), "< '30.0'", "1998")
  f22("q_job22d", "", afWideInfos.drop(1).dropRight(1), "< '30.0'", "1998")

  // ---- family 23: complete internet movies — cc ⋈ cct1 ⋈ cn ⋈ ct ⋈ it1 ⋈ k ⋈ kt ⋈ mc ⋈ mi ⋈ mk ⋈ t
  private def f23(name: String, alias: String, filters: String): Unit =
    job(name)(
      s"""SELECT MIN(kt.kind) AS movie_kind,
         |       MIN(t.title) AS $alias
         |FROM complete_cast AS cc, comp_cast_type AS cct1,
         |     company_name AS cn, company_type AS ct, info_type AS it1,
         |     keyword AS k, kind_type AS kt, movie_companies AS mc,
         |     movie_info AS mi, movie_keyword AS mk, title AS t
         |WHERE cct1.kind = 'MIDDLE EAST'
         |  AND cn.country_code = '[4]'
         |  AND it1.info = 'AMERICA'
         |  AND mi.note LIKE '%st_O%'
         |  $filters
         |  AND kt.id = t.kind_id
         |  AND t.id = mi.movie_id
         |  AND t.id = mk.movie_id
         |  AND t.id = mc.movie_id
         |  AND t.id = cc.movie_id
         |  AND mk.movie_id = mi.movie_id
         |  AND mk.movie_id = mc.movie_id
         |  AND mk.movie_id = cc.movie_id
         |  AND mi.movie_id = mc.movie_id
         |  AND mi.movie_id = cc.movie_id
         |  AND mc.movie_id = cc.movie_id
         |  AND k.id = mk.keyword_id
         |  AND it1.id = mi.info_type_id
         |  AND cn.id = mc.company_id
         |  AND ct.id = mc.company_type_id
         |  AND cct1.id = cc.status_id""")
  f23("q_job23a", "complete_us_internet_movie",
    """AND kt.kind IN ('ASIA')
      |  AND mi.info IS NOT NULL
      |  AND (mi.info LIKE 'Info_1%' OR mi.info LIKE 'Info_2%')
      |  AND t.production_year > 1997""".stripMargin)
  f23("q_job23b", "complete_nerdy_internet_movie",
    """AND k.keyword IN ('PROMO', 'MEDIUM', 'SMALL', 'LARGE')
      |  AND kt.kind IN ('ASIA')
      |  AND mi.info LIKE 'Info_1%'
      |  AND t.production_year > 1997""".stripMargin)
  f23("q_job23c", "complete_us_internet_movie",
    """AND kt.kind IN ('ASIA', 'EUROPE', 'AMERICA')
      |  AND mi.info IS NOT NULL
      |  AND (mi.info LIKE 'Info_1%' OR mi.info LIKE 'Info_2%')
      |  AND t.production_year > 1995""".stripMargin)

  // ---- family 24: voiced action movies — family 19 + keyword arm
  private def f24(name: String, sel: String, filters: String): Unit =
    job(name)(
      s"""SELECT $sel
         |FROM aka_name AS an, char_name AS chn, cast_info AS ci,
         |     company_name AS cn, info_type AS it, keyword AS k,
         |     movie_companies AS mc, movie_info AS mi, movie_keyword AS mk,
         |     name AS n, role_type AS rt, title AS t
         |WHERE $filters
         |  AND t.id = mi.movie_id
         |  AND t.id = mc.movie_id
         |  AND t.id = ci.movie_id
         |  AND t.id = mk.movie_id
         |  AND mc.movie_id = ci.movie_id
         |  AND mc.movie_id = mi.movie_id
         |  AND mc.movie_id = mk.movie_id
         |  AND mi.movie_id = ci.movie_id
         |  AND mi.movie_id = mk.movie_id
         |  AND ci.movie_id = mk.movie_id
         |  AND cn.id = mc.company_id
         |  AND it.id = mi.info_type_id
         |  AND n.id = ci.person_id
         |  AND rt.id = ci.role_id
         |  AND n.id = an.person_id
         |  AND ci.person_id = an.person_id
         |  AND chn.id = ci.person_role_id
         |  AND k.id = mk.keyword_id""")
  f24("q_job24a",
    "MIN(chn.name) AS voiced_char_name, MIN(n.name) AS voicing_actress_name, " +
      "MIN(t.title) AS voiced_action_movie_jap_eng",
    s"""ci.note IN $voiceNotes
       |  AND cn.country_code = '[4]'
       |  AND it.info = 'AMERICA'
       |  AND k.keyword IN ('PROMO', 'MEDIUM', 'LARGE')
       |  AND mi.info IS NOT NULL
       |  AND (mi.info LIKE 'Info_1%' OR mi.info LIKE 'Info_2%')
       |  AND n.gender = 'f'
       |  AND n.name LIKE '%0%'
       |  AND rt.role = 'ASIA'
       |  AND t.production_year > 1999""".stripMargin)
  f24("q_job24b",
    "MIN(chn.name) AS voiced_char_name, MIN(n.name) AS voicing_actress_name, " +
      "MIN(t.title) AS kung_fu_panda",
    s"""ci.note IN $voiceNotes
       |  AND cn.country_code = '[4]'
       |  AND cn.name = 'Supplier#000000013'
       |  AND it.info = 'AMERICA'
       |  AND k.keyword IN ('PROMO', 'MEDIUM', 'LARGE')
       |  AND mi.info IS NOT NULL
       |  AND (mi.info LIKE 'Info_1%' OR mi.info LIKE 'Info_2%')
       |  AND n.gender = 'f'
       |  AND n.name LIKE '%0%'
       |  AND rt.role = 'ASIA'
       |  AND t.production_year > 1999
       |  AND t.title LIKE 'Movie #12%'""".stripMargin)

  // ---- family 25: male horror writers — ci ⋈ it1 ⋈ it2 ⋈ k ⋈ mi ⋈ mi_idx ⋈ mk ⋈ n ⋈ t
  private def f25(name: String, filters: String): Unit =
    job(name)(
      s"""SELECT MIN(mi.info) AS movie_budget,
         |       MIN(mi_idx.info) AS movie_votes,
         |       MIN(n.name) AS male_writer,
         |       MIN(t.title) AS violent_movie_title
         |FROM cast_info AS ci, info_type AS it1, info_type AS it2,
         |     keyword AS k, movie_info AS mi, movie_info_idx AS mi_idx,
         |     movie_keyword AS mk, name AS n, title AS t
         |WHERE ci.note IN $writerNotes
         |  AND it1.info = 'AFRICA'
         |  AND it2.info = 'EUROPE'
         |  $filters
         |  AND t.id = mi.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND t.id = ci.movie_id
         |  AND t.id = mk.movie_id
         |  AND ci.movie_id = mi.movie_id
         |  AND ci.movie_id = mi_idx.movie_id
         |  AND ci.movie_id = mk.movie_id
         |  AND mi.movie_id = mi_idx.movie_id
         |  AND mi.movie_id = mk.movie_id
         |  AND mi_idx.movie_id = mk.movie_id
         |  AND n.id = ci.person_id
         |  AND it1.id = mi.info_type_id
         |  AND it2.id = mi_idx.info_type_id
         |  AND k.id = mk.keyword_id""")
  f25("q_job25a",
    s"""AND k.keyword IN $murderKw
       |  AND mi.info = 'Info_5'
       |  AND n.gender = 'm'""".stripMargin)
  f25("q_job25b",
    s"""AND k.keyword IN $murderKw
       |  AND mi.info = 'Info_5'
       |  AND n.gender = 'm'
       |  AND t.production_year > 1999
       |  AND t.title LIKE 'Movie #10%'""".stripMargin)
  f25("q_job25c",
    s"""AND k.keyword IN $heroKw
       |  AND mi.info IN ('Info_5', 'Info_10')
       |  AND n.gender = 'm'""".stripMargin)

  // ---- family 26: complete hero movies rated — family 20 + mi_idx arm
  private def f26(name: String, kw: String, idxFilter: String, yr: String): Unit =
    job(name)(
      s"""SELECT MIN(chn.name) AS character_name,
         |       MIN(mi_idx.info) AS rating,
         |       MIN(n.name) AS playing_actor,
         |       MIN(t.title) AS complete_hero_movie
         |FROM complete_cast AS cc, comp_cast_type AS cct1,
         |     comp_cast_type AS cct2, char_name AS chn, cast_info AS ci,
         |     info_type AS it2, keyword AS k, kind_type AS kt,
         |     movie_info_idx AS mi_idx, movie_keyword AS mk, name AS n,
         |     title AS t
         |WHERE cct1.kind = 'ASIA'
         |  AND cct2.kind LIKE '%ROPE%'
         |  AND chn.name IS NOT NULL
         |  AND (chn.name LIKE '%ring%' OR chn.name LIKE '%bolt%')
         |  AND it2.info = 'EUROPE'
         |  AND k.keyword IN $kw
         |  AND kt.kind = 'ASIA'
         |  $idxFilter
         |  AND t.production_year > $yr
         |  AND kt.id = t.kind_id
         |  AND t.id = mk.movie_id
         |  AND t.id = ci.movie_id
         |  AND t.id = cc.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND mk.movie_id = ci.movie_id
         |  AND mk.movie_id = cc.movie_id
         |  AND mk.movie_id = mi_idx.movie_id
         |  AND ci.movie_id = cc.movie_id
         |  AND ci.movie_id = mi_idx.movie_id
         |  AND cc.movie_id = mi_idx.movie_id
         |  AND chn.id = ci.person_role_id
         |  AND n.id = ci.person_id
         |  AND k.id = mk.keyword_id
         |  AND cct1.id = cc.subject_id
         |  AND cct2.id = cc.status_id
         |  AND it2.id = mi_idx.info_type_id""")
  f26("q_job26a", heroKw, "AND mi_idx.info > '40.0'", "1997")
  f26("q_job26b", murderKw, "AND mi_idx.info > '45.0'", "1998")
  f26("q_job26c", heroKw, "", "1997")

  // ---- family 27: complete western sequels — family 21 + cc/cct arms
  private def f27(name: String, cctFilter: String, infos: String,
      yearFilter: String): Unit =
    job(name)(
      s"""SELECT MIN(cn.name) AS producing_company,
         |       MIN(lt.link) AS link_type,
         |       MIN(t.title) AS complete_western_sequel
         |FROM complete_cast AS cc, comp_cast_type AS cct1,
         |     comp_cast_type AS cct2, company_name AS cn,
         |     company_type AS ct, keyword AS k, link_type AS lt,
         |     movie_companies AS mc, movie_info AS mi, movie_keyword AS mk,
         |     movie_link AS ml, title AS t
         |WHERE $cctFilter
         |  AND cn.country_code != '[3]'
         |  AND (cn.name LIKE '%00001%' OR cn.name LIKE '%00002%')
         |  AND ct.kind = 'NATION_2'
         |  AND k.keyword = 'STANDARD'
         |  AND lt.link LIKE '%3'
         |  AND mc.note LIKE '%(9%'
         |  AND mi.info IN ($infos)
         |  AND $yearFilter
         |  AND lt.id = ml.link_type_id
         |  AND ml.movie_id = t.id
         |  AND t.id = mk.movie_id
         |  AND mk.keyword_id = k.id
         |  AND t.id = mc.movie_id
         |  AND mc.company_type_id = ct.id
         |  AND mc.company_id = cn.id
         |  AND mi.movie_id = t.id
         |  AND t.id = cc.movie_id
         |  AND cct1.id = cc.subject_id
         |  AND cct2.id = cc.status_id
         |  AND ml.movie_id = mk.movie_id
         |  AND ml.movie_id = mc.movie_id
         |  AND mk.movie_id = mc.movie_id
         |  AND ml.movie_id = mi.movie_id
         |  AND mk.movie_id = mi.movie_id
         |  AND mc.movie_id = mi.movie_id
         |  AND ml.movie_id = cc.movie_id
         |  AND mk.movie_id = cc.movie_id
         |  AND mc.movie_id = cc.movie_id
         |  AND mi.movie_id = cc.movie_id""")
  f27("q_job27a",
    "cct1.kind IN ('ASIA', 'AMERICA')\n  AND cct2.kind = 'EUROPE'",
    smallInfos.drop(1).dropRight(1),
    "t.production_year BETWEEN 1995 AND 1998")
  f27("q_job27b",
    "cct1.kind IN ('ASIA', 'AMERICA')\n  AND cct2.kind = 'EUROPE'",
    "'Info_2', 'Info_4'", "t.production_year = 1997")
  f27("q_job27c",
    "cct1.kind = 'ASIA'\n  AND cct2.kind LIKE 'EUR%'",
    smallInfos.drop(1).dropRight(1),
    "t.production_year BETWEEN 1995 AND 2001")

  // ---- family 28: complete euro dark movies — family 22 + cc/cct arms
  private def f28(name: String, cctFilter: String, idxCut: String,
      yr: String): Unit =
    job(name)(
      s"""SELECT MIN(cn.name) AS movie_company,
         |       MIN(mi_idx.info) AS rating,
         |       MIN(t.title) AS complete_euro_dark_movie
         |FROM complete_cast AS cc, comp_cast_type AS cct1,
         |     comp_cast_type AS cct2, company_name AS cn,
         |     company_type AS ct, info_type AS it1, info_type AS it2,
         |     keyword AS k, kind_type AS kt, movie_companies AS mc,
         |     movie_info AS mi, movie_info_idx AS mi_idx,
         |     movie_keyword AS mk, title AS t
         |WHERE $cctFilter
         |  AND cn.country_code != '[4]'
         |  AND it1.info = 'AFRICA'
         |  AND it2.info = 'EUROPE'
         |  AND k.keyword IN $murderKw
         |  AND kt.kind IN ('ASIA', 'EUROPE')
         |  AND mc.note NOT LIKE '%A/%'
         |  AND mc.note LIKE '%(2%'
         |  AND mi.info IN (${afWideInfos.drop(1).dropRight(1)})
         |  AND mi_idx.info $idxCut
         |  AND t.production_year > $yr
         |  AND kt.id = t.kind_id
         |  AND t.id = mi.movie_id
         |  AND t.id = mk.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND t.id = mc.movie_id
         |  AND t.id = cc.movie_id
         |  AND mk.movie_id = mi.movie_id
         |  AND mk.movie_id = mi_idx.movie_id
         |  AND mk.movie_id = mc.movie_id
         |  AND mk.movie_id = cc.movie_id
         |  AND mi.movie_id = mi_idx.movie_id
         |  AND mi.movie_id = mc.movie_id
         |  AND mi.movie_id = cc.movie_id
         |  AND mc.movie_id = mi_idx.movie_id
         |  AND mc.movie_id = cc.movie_id
         |  AND mi_idx.movie_id = cc.movie_id
         |  AND k.id = mk.keyword_id
         |  AND it1.id = mi.info_type_id
         |  AND it2.id = mi_idx.info_type_id
         |  AND ct.id = mc.company_type_id
         |  AND cn.id = mc.company_id
         |  AND cct1.id = cc.subject_id
         |  AND cct2.id = cc.status_id""")
  f28("q_job28a",
    "cct1.kind = 'AMERICA'\n  AND cct2.kind != 'MIDDLE EAST'",
    "< '30.0'", "1997")
  f28("q_job28b",
    "cct1.kind = 'AMERICA'\n  AND cct2.kind != 'MIDDLE EAST'",
    "> '35.0'", "1998")
  f28("q_job28c",
    "cct1.kind = 'ASIA'\n  AND cct2.kind = 'EUROPE'",
    "< '30.0'", "1998")

  // ---- family 29: the 17-relation monster — voiced animation with person_info
  private def f29(name: String, filters: String): Unit =
    job(name)(
      s"""SELECT MIN(chn.name) AS voiced_char,
         |       MIN(n.name) AS voicing_actress,
         |       MIN(t.title) AS voiced_animation
         |FROM aka_name AS an, complete_cast AS cc, comp_cast_type AS cct1,
         |     comp_cast_type AS cct2, char_name AS chn, cast_info AS ci,
         |     company_name AS cn, info_type AS it, info_type AS it3,
         |     keyword AS k, movie_companies AS mc, movie_info AS mi,
         |     movie_keyword AS mk, name AS n, person_info AS pi,
         |     role_type AS rt, title AS t
         |WHERE cct1.kind = 'ASIA'
         |  AND cct2.kind = 'MIDDLE EAST'
         |  AND cn.country_code = '[4]'
         |  AND it.info = 'AMERICA'
         |  AND k.keyword = 'MEDIUM'
         |  AND n.gender = 'f'
         |  AND rt.role = 'ASIA'
         |  $filters
         |  AND t.id = mi.movie_id
         |  AND t.id = mc.movie_id
         |  AND t.id = ci.movie_id
         |  AND t.id = mk.movie_id
         |  AND t.id = cc.movie_id
         |  AND mc.movie_id = ci.movie_id
         |  AND mc.movie_id = mi.movie_id
         |  AND mc.movie_id = mk.movie_id
         |  AND mc.movie_id = cc.movie_id
         |  AND mi.movie_id = ci.movie_id
         |  AND mi.movie_id = mk.movie_id
         |  AND mi.movie_id = cc.movie_id
         |  AND ci.movie_id = mk.movie_id
         |  AND ci.movie_id = cc.movie_id
         |  AND mk.movie_id = cc.movie_id
         |  AND cn.id = mc.company_id
         |  AND it.id = mi.info_type_id
         |  AND n.id = ci.person_id
         |  AND rt.id = ci.role_id
         |  AND n.id = an.person_id
         |  AND ci.person_id = an.person_id
         |  AND chn.id = ci.person_role_id
         |  AND n.id = pi.person_id
         |  AND ci.person_id = pi.person_id
         |  AND it3.id = pi.info_type_id
         |  AND k.id = mk.keyword_id
         |  AND cct1.id = cc.subject_id
         |  AND cct2.id = cc.status_id""")
  f29("q_job29a",
    """AND chn.name = 'small ring'
      |  AND ci.note IN ('(role 10)', '(role 11)', '(role 12)')
      |  AND it3.info = 'MIDDLE EAST'
      |  AND mi.info IS NOT NULL
      |  AND (mi.info LIKE 'Info_1%' OR mi.info LIKE 'Info_2%')
      |  AND n.name LIKE '%0%'
      |  AND t.title = 'Movie #46'
      |  AND t.production_year BETWEEN 1996 AND 2000""".stripMargin)
  f29("q_job29b",
    """AND chn.name = 'small ring'
      |  AND ci.note IN ('(role 10)', '(role 11)', '(role 12)')
      |  AND it3.info = 'ASIA'
      |  AND mi.info LIKE 'Info_2%'
      |  AND n.name LIKE '%0%'
      |  AND t.title = 'Movie #46'
      |  AND t.production_year BETWEEN 1996 AND 1998""".stripMargin)
  f29("q_job29c",
    """AND ci.note IN ('(role 10)', '(role 11)', '(role 12)')
      |  AND it3.info = 'MIDDLE EAST'
      |  AND mi.info IS NOT NULL
      |  AND (mi.info LIKE 'Info_1%' OR mi.info LIKE 'Info_2%')
      |  AND n.name LIKE '%0%'
      |  AND t.production_year BETWEEN 1996 AND 2000""".stripMargin)

  // ---- family 30: complete violent movies — family 25 + cc/cct arms
  private def f30(name: String, alias: String, cct1Filter: String,
      extra: String): Unit =
    job(name)(
      s"""SELECT MIN(mi.info) AS movie_budget,
         |       MIN(mi_idx.info) AS movie_votes,
         |       MIN(n.name) AS writer,
         |       MIN(t.title) AS $alias
         |FROM complete_cast AS cc, comp_cast_type AS cct1,
         |     comp_cast_type AS cct2, cast_info AS ci, info_type AS it1,
         |     info_type AS it2, keyword AS k, movie_info AS mi,
         |     movie_info_idx AS mi_idx, movie_keyword AS mk, name AS n,
         |     title AS t
         |WHERE $cct1Filter
         |  AND cct2.kind = 'MIDDLE EAST'
         |  AND ci.note IN $writerNotes
         |  AND it1.info = 'AFRICA'
         |  AND it2.info = 'EUROPE'
         |  AND k.keyword IN $heroKw
         |  AND mi.info IN ('Info_5', 'Info_10')
         |  AND n.gender = 'm'
         |  $extra
         |  AND t.id = mi.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND t.id = ci.movie_id
         |  AND t.id = mk.movie_id
         |  AND t.id = cc.movie_id
         |  AND ci.movie_id = mi.movie_id
         |  AND ci.movie_id = mi_idx.movie_id
         |  AND ci.movie_id = mk.movie_id
         |  AND ci.movie_id = cc.movie_id
         |  AND mi.movie_id = mi_idx.movie_id
         |  AND mi.movie_id = mk.movie_id
         |  AND mi.movie_id = cc.movie_id
         |  AND mi_idx.movie_id = mk.movie_id
         |  AND mi_idx.movie_id = cc.movie_id
         |  AND mk.movie_id = cc.movie_id
         |  AND n.id = ci.person_id
         |  AND it1.id = mi.info_type_id
         |  AND it2.id = mi_idx.info_type_id
         |  AND k.id = mk.keyword_id
         |  AND cct1.id = cc.subject_id
         |  AND cct2.id = cc.status_id""")
  f30("q_job30a", "complete_violent_movie",
    "cct1.kind IN ('ASIA', 'AMERICA')", "AND t.production_year > 1997")
  f30("q_job30b", "complete_gore_movie",
    "cct1.kind IN ('ASIA', 'AMERICA')",
    """AND t.production_year > 1997
      |  AND (t.title LIKE '%7%' OR t.title LIKE '%8%' OR t.title LIKE 'Movie #9%')""".stripMargin)
  f30("q_job30c", "complete_violent_movie", "cct1.kind = 'ASIA'", "")

  // ---- family 31: Lionsgate horror writers — family 25 + mc/cn arms
  private def f31(name: String, filters: String): Unit =
    job(name)(
      s"""SELECT MIN(mi.info) AS movie_budget,
         |       MIN(mi_idx.info) AS movie_votes,
         |       MIN(n.name) AS writer,
         |       MIN(t.title) AS violent_liongate_movie
         |FROM cast_info AS ci, company_name AS cn, info_type AS it1,
         |     info_type AS it2, keyword AS k, movie_companies AS mc,
         |     movie_info AS mi, movie_info_idx AS mi_idx,
         |     movie_keyword AS mk, name AS n, title AS t
         |WHERE ci.note IN $writerNotes
         |  AND cn.name LIKE 'Supplier#0000000%'
         |  AND it1.info = 'AFRICA'
         |  AND it2.info = 'EUROPE'
         |  $filters
         |  AND t.id = mi.movie_id
         |  AND t.id = mi_idx.movie_id
         |  AND t.id = ci.movie_id
         |  AND t.id = mk.movie_id
         |  AND t.id = mc.movie_id
         |  AND ci.movie_id = mi.movie_id
         |  AND ci.movie_id = mi_idx.movie_id
         |  AND ci.movie_id = mk.movie_id
         |  AND ci.movie_id = mc.movie_id
         |  AND mi.movie_id = mi_idx.movie_id
         |  AND mi.movie_id = mk.movie_id
         |  AND mi.movie_id = mc.movie_id
         |  AND mi_idx.movie_id = mk.movie_id
         |  AND mi_idx.movie_id = mc.movie_id
         |  AND mk.movie_id = mc.movie_id
         |  AND n.id = ci.person_id
         |  AND it1.id = mi.info_type_id
         |  AND it2.id = mi_idx.info_type_id
         |  AND k.id = mk.keyword_id
         |  AND cn.id = mc.company_id""")
  f31("q_job31a",
    s"""AND k.keyword IN $heroKw
       |  AND mi.info IN ('Info_5', 'Info_10')
       |  AND n.gender = 'm'""".stripMargin)
  f31("q_job31b",
    s"""AND k.keyword IN $heroKw
       |  AND mc.note LIKE '%(42)%'
       |  AND mi.info IN ('Info_5', 'Info_10')
       |  AND n.gender = 'm'
       |  AND (t.title LIKE '%7%' OR t.title LIKE '%8%' OR t.title LIKE 'Movie #9%')""".stripMargin)
  f31("q_job31c",
    s"""AND k.keyword IN $heroKw
       |  AND mi.info IN ('Info_5', 'Info_10')""".stripMargin)

  // ---- family 32: linked-movie pairs — k ⋈ mk ⋈ ml ⋈ lt, title twice
  private def f32(name: String, kw: String): Unit =
    job(name)(
      s"""SELECT MIN(lt.link) AS link_type,
         |       MIN(t1.title) AS first_movie,
         |       MIN(t2.title) AS second_movie
         |FROM keyword AS k, link_type AS lt, movie_keyword AS mk,
         |     movie_link AS ml, title AS t1, title AS t2
         |WHERE k.keyword = '$kw'
         |  AND mk.keyword_id = k.id
         |  AND t1.id = mk.movie_id
         |  AND ml.movie_id = t1.id
         |  AND ml.linked_movie_id = t2.id
         |  AND lt.id = ml.link_type_id
         |  AND mk.movie_id = t1.id""")
  f32("q_job32a", "LARGE")
  f32("q_job32b", "STANDARD")

  // ---- family 33: linked TV series, the full star self-joined through ml
  private def f33(name: String, kts: String, ltFilter: String, idxCut: String,
      yearFilter: String): Unit =
    job(name)(
      s"""SELECT MIN(cn1.name) AS first_company,
         |       MIN(cn2.name) AS second_company,
         |       MIN(mi_idx1.info) AS first_rating,
         |       MIN(mi_idx2.info) AS second_rating,
         |       MIN(t1.title) AS first_movie,
         |       MIN(t2.title) AS second_movie
         |FROM company_name AS cn1, company_name AS cn2, info_type AS it1,
         |     info_type AS it2, kind_type AS kt1, kind_type AS kt2,
         |     link_type AS lt, movie_companies AS mc1,
         |     movie_companies AS mc2, movie_info_idx AS mi_idx1,
         |     movie_info_idx AS mi_idx2, movie_link AS ml, title AS t1,
         |     title AS t2
         |WHERE cn1.country_code = '[4]'
         |  AND it1.info = 'EUROPE'
         |  AND it2.info = 'EUROPE'
         |  AND kt1.kind IN ($kts)
         |  AND kt2.kind IN ($kts)
         |  AND $ltFilter
         |  AND mi_idx2.info $idxCut
         |  AND $yearFilter
         |  AND lt.id = ml.link_type_id
         |  AND t1.id = ml.movie_id
         |  AND t2.id = ml.linked_movie_id
         |  AND it1.id = mi_idx1.info_type_id
         |  AND t1.id = mi_idx1.movie_id
         |  AND kt1.id = t1.kind_id
         |  AND cn1.id = mc1.company_id
         |  AND t1.id = mc1.movie_id
         |  AND ml.movie_id = mi_idx1.movie_id
         |  AND ml.movie_id = mc1.movie_id
         |  AND mi_idx1.movie_id = mc1.movie_id
         |  AND it2.id = mi_idx2.info_type_id
         |  AND t2.id = mi_idx2.movie_id
         |  AND kt2.id = t2.kind_id
         |  AND cn2.id = mc2.company_id
         |  AND t2.id = mc2.movie_id
         |  AND ml.linked_movie_id = mi_idx2.movie_id
         |  AND ml.linked_movie_id = mc2.movie_id
         |  AND mi_idx2.movie_id = mc2.movie_id""")
  f33("q_job33a", "'AMERICA'",
    "lt.link IN ('NATION_1', 'NATION_2', 'NATION_3')", "< '15.0'",
    "t2.production_year BETWEEN 1996 AND 1998")
  f33("q_job33b", "'AMERICA'", "lt.link LIKE '%3'", "< '15.0'",
    "t2.production_year = 1997")
  f33("q_job33c", "'AMERICA', 'EUROPE'",
    "lt.link IN ('NATION_1', 'NATION_2', 'NATION_3')", "< '18.0'",
    "t2.production_year BETWEEN 1996 AND 2000")
}
