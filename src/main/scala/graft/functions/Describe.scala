package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** DESCRIBE / SHOW / SUMMARIZE statements (reference
  * `src/parser/statement/show_statement`, `binder/statement/
  * bind_summarize.cpp`, tests `test/sql/show_select/`).
  *
  *   DESCRIBE t | DESCRIBE SELECT ... | SHOW t | SHOW SELECT ...
  *     → column_name | column_type | null | key | default | extra
  *   DESCRIBE; | SHOW ALL TABLES
  *     → database | schema | name | column_names | column_types | temporary
  *   SHOW TABLES → name
  *   SUMMARIZE t | SUMMARIZE SELECT ...
  *     → column_name, column_type, min, max, approx_unique, avg, std,
  *       q25, q50, q75, count, null_percentage
  *
  * SUMMARIZE computes ALL columns' statistics in ONE aggregate over the
  * relation (a single scan — the same shape the reference's binder
  * produces), then pivots the one result row into per-column rows on
  * the driver. Quantiles use percentile_approx, the engine-native
  * equivalent of the reference's approx_quantile t-digest.
  */
object Describe {

  private val DescRe =
    """(?is)^\s*(DESCRIBE|SHOW)\s*(.*?)\s*;?\s*$""".r
  private val SummRe =
    """(?is)^\s*SUMMARIZE\s+(.+?)\s*;?\s*$""".r
  // PRAGMA spellings (test_show_tables.test): PRAGMA show_tables,
  // PRAGMA SHOW('t') — SHOW may come back-quoted from the importer
  private val PragmaTablesRe =
    """(?is)^\s*PRAGMA\s+show_tables\s*;?\s*$""".r
  private val PragmaShowRe =
    """(?is)^\s*PRAGMA\s+`?SHOW`?\s*\(\s*'([^']*)'\s*\)\s*;?\s*$""".r

  /** A statement may arrive fully parenthesized — `(DESCRIBE ...)` is
    * valid at top level (describe_subquery.test). */
  private def deparen(sql: String): String = {
    val t = sql.trim.stripSuffix(";").trim
    if (t.startsWith("(") && t.endsWith(")")) {
      // only strip when the parens wrap the WHOLE text
      if (SqlText(t).close(0) == t.length - 1) t.substring(1, t.length - 1).trim else t
    } else t
  }

  def matches(sql0: String): Boolean = {
    val sql = deparen(sql0)
    DescRe.findFirstMatchIn(sql).isDefined ||
      SummRe.findFirstMatchIn(sql).isDefined ||
      PragmaTablesRe.findFirstMatchIn(sql).isDefined ||
      PragmaShowRe.findFirstMatchIn(sql).isDefined
  }

  def execute(spark: SparkSession, sql0: String): DataFrame =
    execute(spark, sql0, "")

  /** `cte` carries an enclosing WITH prefix for `(DESCRIBE TABLE cte)`
    * subqueries (cte_describe.test) — the described relation resolves
    * inside it. */
  def execute(spark: SparkSession, sql0: String, cte: String): DataFrame = deparen(sql0) match {
    case PragmaTablesRe() => showTables(spark)
    case PragmaShowRe(t) => describeRelation(spark, t, cte)
    case SummRe(rest) => summarize(spark, stripTableKw(rest.trim), cte)
    case DescRe(verb, rest0) =>
      val rest = stripTableKw(rest0.trim)
      val lower = rest.toLowerCase
      if (rest.isEmpty || lower == "all tables") describeAll(spark)
      else if (lower == "tables") showTables(spark) // SHOW/DESCRIBE TABLES
      else if (lower == "databases")
        Dml.gsql(spark, "SELECT database_name FROM duckdb_databases()")
      else if (lower == "variables")
        Dml.gsql(spark, "SELECT name, value, type FROM duckdb_variables() ORDER BY name")
      else describeRelation(spark, rest, cte)
    case _ => throw new IllegalArgumentException(
      s"Parser Error: not a DESCRIBE/SHOW/SUMMARIZE statement: $sql0")
  }

  private def stripTableKw(rest: String): String =
    rest.replaceFirst("""(?is)^TABLE\s+""", "")

  /** Re-quote a possibly "-quoted qualified identifier for Spark. */
  private def normIdent(raw: String): String =
    raw.split('.').map(p => "`" + Dml.unq(p.trim).replace("`", "``") + "`")
      .mkString(".")

  private def relationOf(spark: SparkSession, rest: String,
      cte: String = ""): DataFrame = {
    val l = rest.toLowerCase
    if (l.startsWith("select") || l.startsWith("with") ||
        l.startsWith("from") || l.startsWith("values") || rest.startsWith("("))
      Dml.gsql(spark, Dml.cteify(cte,
        if (rest.startsWith("(")) s"SELECT * FROM $rest" else rest))
    else if (cte.nonEmpty)
      // the name may be a CTE of the enclosing statement
      try Dml.gsql(spark, Dml.cteify(cte, s"SELECT * FROM ${normIdent(rest)}"))
      catch { case _: Throwable => spark.table(normIdent(rest)) }
    else spark.table(normIdent(rest))
  }

  private def tableNameOf(rest: String): Option[String] = {
    val l = rest.toLowerCase
    if (l.startsWith("select") || l.startsWith("with") || l.startsWith("from") ||
        l.startsWith("values") || rest.startsWith("(")) None
    else Some(rest)
  }

  /** column_name | column_type | null | key | default | extra —
    * test_show_select.test's six-column shape. */
  private def describeRelation(spark: SparkSession, rest: String,
      cte: String = ""): DataFrame = {
    val df = relationOf(spark, rest, cte)
    val tc = tableNameOf(rest).flatMap(Constraints.of(spark, _))
    val nn = tc.map(_.notNull.map(_.toLowerCase).toSet).getOrElse(Set.empty)
    val pk = tc.toSeq.flatMap(_.uniques).filter(_.isPk)
      .flatMap(_.cols).map(_.toLowerCase).toSet
    val uq = tc.toSeq.flatMap(_.uniques).filter(u => !u.isPk && u.cols.length == 1)
      .flatMap(_.cols).map(_.toLowerCase).toSet
    val rows = df.schema.fields.toSeq.map { f =>
      val n = f.name.toLowerCase
      Row(f.name, GraftTypes.duckName(f.dataType),
        if (nn.contains(n)) "NO" else "YES",
        if (pk.contains(n)) "PRI" else if (uq.contains(n)) "UNI" else null,
        if (f.metadata.contains("CURRENT_DEFAULT") || f.metadata.contains("GRAFT_DEFAULT"))
          Dml.defaultExpr(f)
        else null,
        null)
    }
    val schema = StructType(Seq("column_name", "column_type", "null", "key",
      "default", "extra").map(StructField(_, StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** database | schema | name | column_names | column_types | temporary —
    * bare DESCRIBE / SHOW ALL TABLES (test_describe_all.test). */
  private def describeAll(spark: SparkSession): DataFrame =
    Dml.gsql(spark,
      """SELECT t.database_name AS database, t.schema_name AS schema,
        |       t.table_name AS name,
        |       c.column_names, c.column_types, t.temporary
        |FROM duckdb_tables() t
        |JOIN (SELECT table_name, database_name,
        |             array_agg(column_name) AS column_names,
        |             array_agg(data_type) AS column_types
        |      FROM (SELECT * FROM duckdb_columns()
        |            ORDER BY table_name, column_index)
        |      GROUP BY table_name, database_name) c
        |  ON t.table_name = c.table_name AND t.database_name = c.database_name
        |ORDER BY name""".stripMargin)

  private def showTables(spark: SparkSession): DataFrame = {
    // SHOW TABLES lists the CURRENT schema plus session temp entries
    // (test_show_tables.test: s1.tbl hidden while main is current)
    val cur =
      try spark.catalog.currentDatabase.toLowerCase
      catch { case _: Throwable => "default" }
    val db = if (cur == "default") "memory" else cur
    // DISTINCT: a session temp view satisfies both the table and the
    // view listing (the importer materializes base tables as temp views)
    Dml.gsql(spark,
      s"SELECT DISTINCT name FROM (" +
        s"  SELECT table_name AS name, database_name FROM duckdb_tables()" +
        s"  UNION ALL SELECT view_name, database_name FROM duckdb_views()) " +
        s"WHERE database_name IN ('$db', 'temp') ORDER BY name")
  }

  // ------------------------------------------------------------------
  // SUMMARIZE — one aggregate pass, pivoted to per-column rows
  // ------------------------------------------------------------------

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }
  private def isTemporal(dt: DataType): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def summarize(spark: SparkSession, rest: String,
      cte: String = ""): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = relationOf(spark, rest, cte)
    val fs = df.schema.fields.toSeq
    // one flat aggregate: per column — min, max, distinct, avg, std,
    // q25/50/75, null count; plus the total row count
    val aggs = fs.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"`${f.name}`")
      val base = Seq(
        min(c).cast("string").as(s"_min$i"),
        max(c).cast("string").as(s"_max$i"),
        countDistinct(c).as(s"_uniq$i"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"_nulls$i"))
      val stats =
        if (isNumeric(f.dataType)) Seq(
          avg(c.cast("double")).cast("string").as(s"_avg$i"),
          stddev_samp(c.cast("double")).cast("string").as(s"_std$i"),
          percentile_approx(c, lit(0.25), lit(10000)).cast("string").as(s"_q1$i"),
          percentile_approx(c, lit(0.5), lit(10000)).cast("string").as(s"_q2$i"),
          percentile_approx(c, lit(0.75), lit(10000)).cast("string").as(s"_q3$i"))
        else if (isTemporal(f.dataType)) Seq(
          timestamp_seconds(avg(c.cast("timestamp").cast("double")))
            .cast("string").as(s"_avg$i"),
          lit(null).cast("string").as(s"_std$i"),
          percentile_approx(c, lit(0.25), lit(10000)).cast("string").as(s"_q1$i"),
          percentile_approx(c, lit(0.5), lit(10000)).cast("string").as(s"_q2$i"),
          percentile_approx(c, lit(0.75), lit(10000)).cast("string").as(s"_q3$i"))
        else Seq(
          lit(null).cast("string").as(s"_avg$i"),
          lit(null).cast("string").as(s"_std$i"),
          lit(null).cast("string").as(s"_q1$i"),
          lit(null).cast("string").as(s"_q2$i"),
          lit(null).cast("string").as(s"_q3$i"))
      base ++ stats
    } :+ count(lit(1)).as("_cnt")
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    val total = r.getAs[Long]("_cnt")
    val rows = fs.zipWithIndex.map { case (f, i) =>
      val nulls = r.getAs[Long](s"_nulls$i")
      val pct =
        if (total == 0) "0.00"
        else f"${nulls.toDouble * 100.0 / total}%.2f"
      Row(f.name, GraftTypes.duckName(f.dataType),
        r.getAs[String](s"_min$i"), r.getAs[String](s"_max$i"),
        r.getAs[Long](s"_uniq$i"),
        r.getAs[String](s"_avg$i"), r.getAs[String](s"_std$i"),
        r.getAs[String](s"_q1$i"), r.getAs[String](s"_q2$i"),
        r.getAs[String](s"_q3$i"), total, pct)
    }
    val schema = StructType(Seq(
      StructField("column_name", StringType),
      StructField("column_type", StringType),
      StructField("min", StringType),
      StructField("max", StringType),
      StructField("approx_unique", LongType),
      StructField("avg", StringType),
      StructField("std", StringType),
      StructField("q25", StringType),
      StructField("q50", StringType),
      StructField("q75", StringType),
      StructField("count", LongType),
      StructField("null_percentage", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}
