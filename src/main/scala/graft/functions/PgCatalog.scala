package graft.functions

import org.apache.spark.sql.SparkSession

/** PostgreSQL compatibility catalog (reference
  * src/catalog/default/default_views.cpp:35-160 + test/sql/pg_catalog/):
  * `pg_catalog.pg_*` / bare `pg_*` relation references lower to inline
  * views over the engine's duckdb_* catalog TVFs (graft.functions.Attach
  * / Sequences / Timezone), which the later stages of
  * Macros.expandAll inline over the live session catalog. psql-style
  * tools and BI connectors introspect through exactly these views.
  *
  * OIDs are deterministic per name (`pmod(hash(kind, qualifiers...),
  * 2^31-1)`): stable for the life of a catalog entry regardless of
  * later DDL — the property pg_namespace.test pins with its label
  * re-reads — and consistent across views, so pg_attribute.attrelid
  * joins pg_class.oid.
  */
object PgCatalog {

  private def relOid(db: String, t: String) =
    s"pmod(hash('rel', $db, $t), 2147483647)"
  private def nsOid(s: String) = s"pmod(hash('ns', $s), 2147483647)"

  private val nullStr = "CAST(NULL AS STRING)"
  private val nullInt = "CAST(NULL AS INT)"

  /** The 17 trailing pg_class columns that are constants in the
    * reference view (relhasoids .. relpartbound, minus the per-branch
    * relhaspkey). */
  private def classTail(relhaspkey: String) =
    s"false relhasoids, $relhaspkey relhaspkey, false relhasrules, " +
      "false relhastriggers, false relhassubclass, false relrowsecurity, " +
      s"true relispopulated, $nullStr relreplident, false relispartition, " +
      s"0 relrewrite, 0 relfrozenxid, $nullInt relminmxid, $nullStr relacl, " +
      s"$nullStr reloptions, $nullStr relpartbound"

  private def classHead(oid: String, name: String, ns: String) =
    s"$oid oid, $name relname, $ns relnamespace, 0 reltype, 0 reloftype, " +
      "0 relowner, 0 relam, 0 relfilenode, 0 reltablespace, 0 relpages"

  /** view name -> inline SQL (over duckdb_* TVF spellings; those lower
    * in the outer expandAll stages). */
  private def viewSql(spark: SparkSession, name: String): Option[String] = name match {
    case "pg_am" =>
      Some(s"SELECT 0 oid, 'art' amname, $nullStr amhandler, 'i' amtype")
    case "pg_tablespace" =>
      Some(s"SELECT 0 oid, 'pg_default' spcname, 0 spcowner, $nullStr spcacl, " +
        s"$nullStr spcoptions")
    case "pg_collation" =>
      Some(s"SELECT CAST(NULL AS INT) oid, $nullStr collname WHERE FALSE")
    case "pg_database" =>
      Some("SELECT pmod(hash('db', database_name), 2147483647) oid, " +
        "database_name datname, true datallowconn, false datistemplate " +
        "FROM duckdb_databases()")
    case "pg_namespace" =>
      // builtin schemas + user schemas (Spark databases); the reference
      // lists duckdb_schemas() of the current database
      val user = spark.catalog.listDatabases().collect().toSeq
        .map(_.name).filterNot(_ == "default").sorted
      val rows = (Seq("main", "pg_catalog", "information_schema", "temp") ++ user)
        .map(n => s"('${n.replace("'", "''")}')")
      Some(s"SELECT ${nsOid("nspname")} oid, nspname, 0 nspowner, $nullStr nspacl " +
        s"FROM (VALUES ${rows.mkString(", ")}) AS t(nspname)")
    case "pg_tables" =>
      Some("SELECT schema_name schemaname, table_name tablename, " +
        s"'duckdb' tableowner, $nullStr tablespace, false hasindexes, " +
        "false hasrules, false hastriggers FROM duckdb_tables()")
    case "pg_views" =>
      Some("SELECT schema_name schemaname, view_name viewname, " +
        "'duckdb' viewowner, sql definition FROM duckdb_views()")
    case "pg_class" =>
      val tables =
        s"SELECT ${classHead(relOid("database_name", "table_name"), "table_name",
            nsOid("schema_name"))}, " +
          "CAST(coalesce(estimated_size, 0) AS REAL) reltuples, 0 relallvisible, " +
          "0 reltoastrelid, 0 reltoastidxid, false relhasindex, false relisshared, " +
          "CASE WHEN temporary THEN 't' ELSE 'p' END relpersistence, 'r' relkind, " +
          s"column_count relnatts, 0 relchecks, ${classTail("has_primary_key")} " +
          "FROM duckdb_tables()"
      val views =
        s"SELECT ${classHead(relOid("database_name", "view_name"), "view_name",
            nsOid("schema_name"))}, " +
          "CAST(0 AS REAL) reltuples, 0 relallvisible, 0 reltoastrelid, " +
          "0 reltoastidxid, false relhasindex, false relisshared, " +
          "CASE WHEN temporary THEN 't' ELSE 'p' END relpersistence, 'v' relkind, " +
          s"0 relnatts, 0 relchecks, ${classTail("false")} FROM duckdb_views()"
      val seqs =
        s"SELECT ${classHead(relOid("schema_name", "sequence_name"), "sequence_name",
            nsOid("schema_name"))}, " +
          "CAST(0 AS REAL) reltuples, 0 relallvisible, 0 reltoastrelid, " +
          "0 reltoastidxid, false relhasindex, false relisshared, " +
          "'p' relpersistence, 'S' relkind, 0 relnatts, 0 relchecks, " +
          s"${classTail("false")} FROM duckdb_sequences()"
      Some(s"$tables UNION ALL $views UNION ALL $seqs")
    case "pg_attribute" =>
      Some(s"SELECT ${relOid("database_name", "table_name")} attrelid, " +
        "column_name attname, pmod(hash('typ', data_type), 2147483647) atttypid, " +
        s"0 attstattarget, $nullInt attlen, column_index attnum, 0 attndims, " +
        "-1 attcacheoff, CASE WHEN data_type LIKE 'DECIMAL%' THEN " +
        "CAST(regexp_extract(data_type, 'DECIMAL\\\\((\\\\d+),(\\\\d+)\\\\)', 1) AS INT) * 1000 + " +
        "CAST(regexp_extract(data_type, 'DECIMAL\\\\((\\\\d+),(\\\\d+)\\\\)', 2) AS INT) " +
        s"ELSE -1 END atttypmod, false attbyval, $nullStr attstorage, " +
        s"$nullStr attalign, NOT is_nullable attnotnull, " +
        "column_default IS NOT NULL atthasdef, false atthasmissing, " +
        "'' attidentity, '' attgenerated, false attisdropped, true attislocal, " +
        s"0 attinhcount, 0 attcollation, $nullStr attcompression, $nullStr attacl, " +
        s"$nullStr attoptions, $nullStr attfdwoptions, $nullStr attmissingval " +
        "FROM duckdb_columns()")
    case "pg_attrdef" =>
      Some(s"SELECT column_index oid, ${relOid("database_name", "table_name")} adrelid, " +
        "column_index adnum, column_default adbin FROM duckdb_columns() " +
        "WHERE column_default IS NOT NULL")
    case "pg_constraint" =>
      Some("SELECT pmod(hash('con', database_name, table_name, constraint_index), " +
        "2147483647) oid, constraint_text conname, " +
        s"${nsOid("schema_name")} connamespace, " +
        "CASE constraint_type WHEN 'CHECK' THEN 'c' WHEN 'UNIQUE' THEN 'u' " +
        "WHEN 'PRIMARY KEY' THEN 'p' WHEN 'FOREIGN KEY' THEN 'f' ELSE 'x' END contype, " +
        "false condeferrable, false condeferred, true convalidated, " +
        s"${relOid("database_name", "table_name")} conrelid, 0 contypid, 0 conindid, " +
        s"0 conparentid, 0 confrelid, $nullStr confupdtype, $nullStr confdeltype, " +
        s"$nullStr confmatchtype, true conislocal, 0 coninhcount, false connoinherit, " +
        "constraint_column_indexes conkey, CAST(NULL AS ARRAY<INT>) confkey, " +
        "CAST(NULL AS ARRAY<INT>) conpfeqop, CAST(NULL AS ARRAY<INT>) conppeqop, " +
        "CAST(NULL AS ARRAY<INT>) conffeqop, CAST(NULL AS ARRAY<INT>) conexclop, " +
        s"$nullStr conbin FROM duckdb_constraints()")
    case "pg_sequence" =>
      Some("SELECT pmod(hash('rel', schema_name, sequence_name), 2147483647) seqrelid, " +
        "0 seqtypid, start_value seqstart, increment_by seqincrement, " +
        "max_value seqmax, min_value seqmin, 0 seqcache, cycle seqcycle " +
        "FROM duckdb_sequences()")
    case "pg_sequences" =>
      Some("SELECT schema_name schemaname, sequence_name sequencename, " +
        "'duckdb' sequenceowner, 0 data_type, start_value, min_value, max_value, " +
        "increment_by, cycle, 0 cache_size, last_value FROM duckdb_sequences()")
    case "pg_settings" =>
      Some("SELECT name, value setting, description short_desc, " +
        "CASE WHEN input_type = 'VARCHAR' THEN 'string' WHEN input_type = 'BOOLEAN' " +
        "THEN 'bool' WHEN input_type IN ('BIGINT', 'UBIGINT') THEN 'integer' " +
        "ELSE input_type END vartype FROM duckdb_settings()")
    case "pg_enum" =>
      Some(s"SELECT $nullInt oid, $nullInt enumtypid, $nullInt enumsortorder, " +
        s"$nullStr enumlabel WHERE FALSE")
    case "pg_index" =>
      // the engine has no physical index structures (documented non-goal)
      Some(s"SELECT $nullInt indexrelid, $nullInt indrelid, 0 indnatts, " +
        "0 indnkeyatts, false indisunique, false indisprimary, false indisexclusion, " +
        "true indimmediate, false indisclustered, true indisvalid, false indcheckxmin, " +
        "true indisready, true indislive, false indisreplident, " +
        s"CAST(NULL AS ARRAY<INT>) indkey, CAST(NULL AS ARRAY<INT>) indcollation, " +
        s"CAST(NULL AS ARRAY<INT>) indclass, CAST(NULL AS ARRAY<INT>) indoption, " +
        s"$nullStr indexprs, $nullStr indpred WHERE FALSE")
    case "pg_indexes" =>
      Some(s"SELECT $nullStr schemaname, $nullStr tablename, $nullStr indexname, " +
        s"$nullStr tablespace, $nullStr indexdef WHERE FALSE")
    case _ => None
  }

  private val names = Seq("pg_am", "pg_tablespace", "pg_collation", "pg_database",
    "pg_namespace", "pg_tables", "pg_views", "pg_class", "pg_attribute",
    "pg_attrdef", "pg_constraint", "pg_sequences", "pg_sequence", "pg_settings",
    "pg_enum", "pg_indexes", "pg_index")

  private val TokenRe =
    ("""(?i)\b(?:pg_catalog\s*\.\s*)?(""" + names.mkString("|") + """)\b(?!\s*\.)""").r

  /** pg_timezone_names() — the session tz database as a relation
    * (reference icu extension TVF; pg compat). Offsets/DST flags are
    * evaluated at bind time, like the reference's current-time rows. */
  private def timezoneNamesRelation(): String = {
    import scala.jdk.CollectionConverters._
    val now = java.time.Instant.now()
    val rows = java.time.ZoneId.getAvailableZoneIds.asScala.toSeq.sorted.map { id =>
      val z = java.time.ZoneId.of(id)
      val off = z.getRules.getOffset(now).getTotalSeconds
      val dst = z.getRules.isDaylightSavings(now)
      val abbrev = java.util.TimeZone.getTimeZone(id)
        .getDisplayName(dst, java.util.TimeZone.SHORT)
      s"('${id.replace("'", "''")}', '${abbrev.replace("'", "''")}', " +
        s"make_dt_interval(0, 0, 0, $off), $dst)"
    }
    s"(SELECT * FROM (VALUES ${rows.mkString(", ")}) AS " +
      "pg_timezone_names(name, abbrev, utc_offset, is_dst))"
  }

  def rewrite(spark: SparkSession, sql: String): String = {
    if (!sql.toLowerCase.contains("pg_")) return sql
    val TzNamesRe = """(?i)\bpg_timezone_names\s*\(\s*\)""".r
    lazy val tzNames = timezoneNamesRelation()
    val sql1 = SqlText.replaceUnquoted(sql, TzNamesRe)(_ => tzNames)
    SqlText.replaceUnquoted(sql1, TokenRe) { m =>
      val name = m.group(1).toLowerCase
      viewSql(spark, name).map(v => s"($v) AS $name").getOrElse(m.matched)
    }
  }
}
