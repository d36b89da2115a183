package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** PREPARE / EXECUTE / DEALLOCATE with TRUE parameter binding
  * (reference `src/main/client_context.cpp:535-627`: a prepared statement
  * stores the unbound template and re-binds parameter types at every
  * EXECUTE — an untyped `?` defaults to VARCHAR but takes the type of
  * each call's argument).
  *
  * Spark-first realization: the template's `?` / `?n` / `$n` / `$name`
  * markers lower to Spark 4 named parameters (`:gp1` …) and each EXECUTE
  * runs `spark.sql(template, args)` — Catalyst's parameterized-query
  * binding — so re-binding per call is REAL, not textual inlining: the
  * same template executes with INT args in one call and VARCHAR/ARRAY
  * args in the next, exactly the reference's protocol.
  *
  * Statement surface only (the session API beneath PREPARE in the
  * reference); templates are session-scoped like [[Sequences]] state.
  */
object Prepared {

  private val templates =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def key(spark: SparkSession, name: String): String =
    Sequences.sessionKey(spark) + ":prep:" + name.toLowerCase

  private val PrepareRe =
    """(?is)\s*PREPARE\s+(\w+)\s+AS\s+(.*?);?\s*""".r
  private val ExecuteRe =
    """(?is)\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*""".r
  private val DeallocRe =
    """(?is)\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*;?\s*""".r

  def matches(sql: String): Boolean =
    PrepareRe.matches(sql) || ExecuteRe.matches(sql) || DeallocRe.matches(sql)

  def clear(spark: SparkSession): Unit = {
    val prefix = Sequences.sessionKey(spark) + ":prep:"
    templates.keySet.removeIf(_.startsWith(prefix))
  }

  /** Rewrite `?` / `?n` / `$n` / `$name` markers (outside string/quoted
    * identifiers) to named parameters `:gpN` / `:name`, returning the
    * rewritten text and the positional marker names in occurrence order.
    */
  private def lowerMarkers(tmpl: String): (String, Seq[String]) = {
    val t = SqlText(tmpl)
    val sb = new StringBuilder
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var nextPos = 0
    var i = 0
    while (i < tmpl.length) {
      val c = tmpl.charAt(i)
      if (t.code(i) && (c == '?' || c == '$')) {
        var j = i + 1
        while (j < tmpl.length && (tmpl.charAt(j).isLetterOrDigit || tmpl.charAt(j) == '_')) j += 1
        val tail = tmpl.substring(i + 1, j)
        if (c == '?' && tail.isEmpty) {
          nextPos += 1; positional += s"gp$nextPos"; sb.append(s":gp$nextPos"); i += 1
        } else if (tail.nonEmpty && tail.forall(_.isDigit)) {
          // numbered marker ($2 / ?2): binds the N-th positional arg
          sb.append(s":gp$tail"); i = j
        } else if (c == '$' && tail.nonEmpty) {
          sb.append(s":$tail"); i = j // named marker $name
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    (sb.toString, positional.toSeq)
  }

  /** Run one PREPARE/EXECUTE/DEALLOCATE statement. */
  def execute(spark: SparkSession, sql: String): DataFrame = sql match {
    case PrepareRe(name, body) =>
      templates.put(key(spark, name), body.trim)
      spark.emptyDataFrame
    case DeallocRe(name) =>
      if (templates.remove(key(spark, name)) == null)
        throw new IllegalArgumentException(
          s"Catalog Error: Prepared statement with name $name does not exist!")
      spark.emptyDataFrame
    case ExecuteRe(name, argText) =>
      val tmpl = templates.get(key(spark, name))
      if (tmpl == null)
        throw new IllegalArgumentException(
          s"Catalog Error: Prepared statement with name $name does not exist!")
      val args = if (argText == null) Seq.empty else SqlText.splitTop(argText)
      val named = args.collect {
        case a if a.matches("(?s)^\\w+\\s*:=.*") =>
          val Array(n, v) = a.split(":=", 2)
          n.trim -> v.trim
      }
      val pos = args.filterNot(_.matches("(?s)^\\w+\\s*:=.*"))
      val (lowered, posNames) = lowerMarkers(tmpl)
      if (posNames.nonEmpty && posNames.length != pos.length)
        throw new IllegalArgumentException(
          s"Binder Error: Parameter argument/count mismatch for prepared " +
            s"statement $name: expected ${posNames.length}, got ${pos.length}")
      // numbered markers (:gpN from $n/?n) bind the N-th positional arg
      val numbered = """(?<!\w):gp(\d+)""".r
        .findAllMatchIn(lowered).map(_.group(1).toInt).toSeq.distinct
        .filter(n => posNames.isEmpty && n >= 1 && n <= pos.length)
        .map(n => s"gp$n" -> pos(n - 1))
      // EXECUTE arguments are EVALUATED first, then bound (the reference
      // evaluates them as constant expressions before re-binding the
      // template — 1=1, [1,2,3], nested casts all legal). Spark's
      // parameterized sql() accepts only literal args, so each argument
      // evaluates to a value via a driver-side scalar query and binds as
      // a typed Literal — arrays/structs/NULL included.
      def evalArg(v: String): Column = {
        val df = Dml.gsql(spark, s"SELECT ($v)")
        val dt = df.schema.head.dataType
        org.apache.spark.sql.graft.Bridge.column(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            df.head().get(0), dt))
      }
      val binds: Map[String, Column] =
        (posNames.zip(pos) ++ numbered ++ named)
          .map { case (k, v) => k -> evalArg(v) }.toMap
      // macro expansion applies to the BOUND template, like every other
      // SQL entry in the engine surface
      spark.sql(Macros.expandAll(spark, lowered), binds)
    case _ =>
      throw new IllegalArgumentException(s"not a prepared statement: $sql")
  }
}
