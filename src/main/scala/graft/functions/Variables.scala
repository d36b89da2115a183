package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** SET VARIABLE / RESET VARIABLE / getvariable() — the reference's SQL
  * variables (`test/sql/variables/test_variables.test`,
  * `src/main/settings` variable surface):
  *
  *   SET VARIABLE name = expr   -- expr evaluated EAGERLY (subqueries ok,
  *                                 must produce exactly one value)
  *   RESET VARIABLE name
  *   getvariable('name')        -- NULL when unset
  *   duckdb_variables() / SHOW VARIABLES → (name, value, type)
  *
  * The evaluated value is stored as a SQL literal; `getvariable('x')`
  * calls rewrite to that literal at bind time (after macro expansion, so
  * macro-wrapped and PREPARE-substituted names resolve too) — exactly
  * the reference's constant-folding of variables, and the literal keeps
  * whole-stage codegen intact. */
object Variables {

  /** session → name → (literal SQL, duck type name, display value) */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, String)]()
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)
  private def key(spark: SparkSession, name: String): String =
    sessionKey(spark) + ":" + name.toLowerCase

  def clear(spark: SparkSession): Unit = {
    val pfx = sessionKey(spark) + ":"
    registry.keySet.removeIf(_.startsWith(pfx)): Unit
  }

  private val SetRe =
    """(?is)^\s*SET\s+VARIABLE\s+("[^"]+"|`[^`]+`|[\w$]+)\s*=\s*(.+?)\s*;?\s*$""".r
  private val ResetRe =
    """(?is)^\s*RESET\s+VARIABLE\s+("[^"]+"|`[^`]+`|[\w$]+)\s*;?\s*$""".r

  def matches(sql: String): Boolean =
    SetRe.findFirstMatchIn(sql).isDefined || ResetRe.findFirstMatchIn(sql).isDefined

  def execute(spark: SparkSession, sql: String): DataFrame = sql match {
    case SetRe(name0, exprTxt) =>
      val name = Dml.unq(name0)
      val df = Dml.gsql(spark, s"SELECT ($exprTxt) AS ${Dml.G}v")
      val rows = df.limit(2).collect()
      if (rows.length != 1)
        throw new IllegalArgumentException(
          "Invalid Input Error: SET VARIABLE can only handle a single value")
      val dt = df.schema.head.dataType
      val v = rows.head.get(0)
      registry.put(key(spark, name),
        (toLiteral(v, dt), GraftTypes.duckName(dt), render(v))): Unit
      spark.emptyDataFrame
    case ResetRe(name0) =>
      registry.remove(key(spark, Dml.unq(name0))): Unit
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(
      s"not a SET/RESET VARIABLE statement: $sql")
  }

  /** getvariable('x') → the stored literal (NULL when unset). Runs after
    * macro expansion in Macros.expandAll. */
  def rewrite(spark: SparkSession, sql: String): String = {
    // (extra parens appear when PREPARE substitutes a parameter:
    // GETVARIABLE(('animal')))
    // only matches that start outside quotes are rewritten: a data
    // string like 'price: $total' survives untouched (the pattern itself
    // contains a quoted literal, so only the match start counts)
    val Re2 = """(?i)\bgetvariable\s*\(\s*\(?\s*'([^']*)'\s*\)?\s*\)""".r
    val out = SqlText.replaceUnquoted(sql, Re2)(m =>
      Option(registry.get(key(spark, m.group(1))))
        .map(v => s"(${v._1})").getOrElse("NULL"))
    // $name references an existing variable (test_variable_syntax.test);
    // numeric $1 stays for the PREPARE layer, unknown names stay too.
    // DDL keeps its parameters verbatim — the reference REJECTS
    // variables in DEFAULT/CHECK clauses (create_table_parameters.test)
    val DollarRe = """\$([A-Za-z_][\w$]*)""".r
    if ("""(?is)^\s*CREATE\b""".r.findFirstIn(out).isDefined) return out
    SqlText.replaceUnquoted(out, DollarRe)(m =>
      Option(registry.get(key(spark, m.group(1)))).map(v => s"(${v._1})")
        .getOrElse(m.matched))
  }

  /** duckdb_variables() rows: (name, value, type). */
  def relation(spark: SparkSession): String = {
    def esc(s: String) = s.replace("'", "''")
    val pfx = sessionKey(spark) + ":"
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    registry.forEach { (k, v) =>
      if (k.startsWith(pfx))
        rows += s"('${esc(k.stripPrefix(pfx))}', '${esc(v._3)}', '${esc(v._2)}')"
    }
    if (rows.isEmpty)
      "(SELECT CAST(NULL AS STRING) AS name, CAST(NULL AS STRING) AS value, " +
        "CAST(NULL AS STRING) AS type WHERE 1=0)"
    else
      s"(SELECT * FROM (VALUES ${rows.toSeq.sorted.mkString(", ")}) " +
        "AS duckdb_variables(name, value, type))"
  }

  /** Render a collected value back to SQL literal text. */
  private def toLiteral(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => s"CAST(NULL AS ${dt.sql})"
    case (s: String, _) => "'" + s.replace("'", "''") + "'"
    case (b: Boolean, _) => b.toString
    case (d: java.sql.Date, _) => s"DATE '$d'"
    case (t: java.sql.Timestamp, _) => s"TIMESTAMP '$t'"
    case (t: java.time.LocalDateTime, _) => s"TIMESTAMP '${t.toString.replace('T', ' ')}'"
    case (t: java.time.LocalDate, _) => s"DATE '$t'"
    case (x: java.math.BigDecimal, d: DecimalType) => s"CAST($x AS ${d.sql})"
    case (a: scala.collection.Seq[_], at: ArrayType) =>
      a.map(e => toLiteral(e, at.elementType)).mkString("array(", ", ", ")")
    case (r: org.apache.spark.sql.Row, st: StructType) =>
      st.fields.zipWithIndex.map { case (f, i) =>
        s"'${f.name}', ${toLiteral(r.get(i), f.dataType)}"
      }.mkString("named_struct(", ", ", ")")
    case (x: Byte, _) => s"CAST($x AS TINYINT)"
    case (x: Short, _) => s"CAST($x AS SMALLINT)"
    case (x: Int, _) => x.toString
    case (x: Long, _) => s"CAST($x AS BIGINT)"
    case (x: Float, _) => s"CAST($x AS FLOAT)"
    case (x: Double, _) => s"CAST($x AS DOUBLE)"
    case (other, _) => "'" + other.toString.replace("'", "''") + "'"
  }

  /** duckdb-style display rendering for duckdb_variables(). */
  private def render(v: Any): String = v match {
    case null => "NULL"
    case a: scala.collection.Seq[_] => a.map(render).mkString("[", ", ", "]")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => render(r.get(i))).mkString("{", ", ", "}")
    case other => other.toString
  }
}
