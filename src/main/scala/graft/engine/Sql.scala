package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import graft.functions._

/** The statement front door: every SQL statement enters the engine here,
  * the way every reference statement enters through
  * `Connection::Query` → `ClientContext` (client_context.cpp:471-529).
  *
  * Statements the engine implements itself (macros, sequences,
  * constraint DDL, ATTACH, EXPORT/IMPORT, COPY, DML, ALTER, SET,
  * ANALYZE, DESCRIBE, PREPARE) route to their `graft.functions` module;
  * everything else runs through spark.sql after the dialect pipeline
  * (macro expansion is a no-op when no macros are defined). Branch
  * order matters: earlier patterns shadow later ones.
  *
  * Comments are stripped once, before dispatch (Spark hints stay), so
  * no statement pattern or rewrite pass downstream ever sees one.
  */
object Sql {

  private val MacroDdl =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:MACRO|FUNCTION)\b.*""".r
  private val MacroDrop = """(?is)\s*DROP\s+(?:MACRO|FUNCTION)\b.*""".r

  /** Run one statement. Engine-implemented statements execute eagerly;
    * a query returns its (lazy) result.
    *
    * A statement nested too deeply for the stack fails with an ordinary
    * error. Spark's parser reports its own overflow that way
    * (FAILED_TO_PARSE_TOO_COMPLEX), but once JIT compilation shrinks the
    * parser's frames the statement parses and overflows in the analyzer,
    * and the fatal StackOverflowError escapes callers' NonFatal handling.
    * A statement that analyzes is held to the reference's expression
    * depth limit, since the code generator overflows sooner still.
    */
  def execute(spark: SparkSession, sql: String): DataFrame = {
    val df =
      try dispatch(spark, SqlText.stripComments(sql))
      catch {
        case _: StackOverflowError =>
          throw new IllegalArgumentException(
            "Parser Error: Max expression depth exceeded: the statement is nested too deeply")
      }
    if (expressionDepth(df.queryExecution.analyzed) > MaxExpressionDepth)
      throw new IllegalArgumentException(
        s"Parser Error: Max expression depth limit of $MaxExpressionDepth exceeded")
    df
  }

  /** The reference's default `max_expression_depth`. A 2,000-term
    * `x + x + …` can analyze and then overflow in `doGenCode` when the
    * query runs, outside this method. */
  private val MaxExpressionDepth = 1000

  /** Depth of the deepest expression of any operator, level by level so
    * that the walk itself does not recurse. */
  private def expressionDepth(plan: LogicalPlan): Int = {
    var level: Seq[Expression] = plan.flatMap(_.expressions)
    var depth = 0
    while (level.nonEmpty && depth <= MaxExpressionDepth) {
      level = level.flatMap(_.children)
      depth += 1
    }
    depth
  }

  private def dispatch(spark: SparkSession, sql: String): DataFrame = sql match {
    case MacroDdl() =>
      Macros.defineAny(spark, sql); spark.emptyDataFrame
    case MacroDrop() =>
      Macros.drop(spark, sql); spark.emptyDataFrame
    case s if Sequences.isSequenceDdl(s) =>
      Sequences.execute(spark, s); spark.emptyDataFrame
    case s if Constraints.matchesDdl(s) =>
      // constraint-bearing CREATE TABLE: register + run stripped DDL
      Constraints.executeDdl(spark, s)
    case s if Constraints.matchesIndexDdl(s) =>
      // CREATE UNIQUE INDEX = a uniqueness constraint (art_index.cpp)
      Constraints.executeIndexDdl(spark, s)
    case s if Attach.matches(s) =>
      // ATTACH/DETACH → Spark databases (graft.functions.Attach)
      Attach.execute(spark, s)
    case s if ExportDb.matches(s) =>
      // EXPORT/IMPORT DATABASE (graft.functions.ExportDb)
      ExportDb.execute(spark, s)
    case s if Copy.matches(s) =>
      // COPY ... TO / FROM (graft.functions.Copy)
      Copy.execute(spark, s)
    case s if Dml.matches(spark, s) =>
      // copy-on-write UPDATE/DELETE/TRUNCATE/MERGE/upsert + verified
      // inserts (graft.functions.Dml / Constraints)
      Dml.execute(spark, s)
    case s if Alter.matches(s) =>
      // ALTER TABLE column surface (graft.functions.Alter)
      Alter.execute(spark, s)
    case s if Attach.matchesSetSchema(s) =>
      // SET schema = x -> current database switch
      Attach.executeSetSchema(spark, s)
    case s if Variables.matches(s) =>
      // SET/RESET VARIABLE (graft.functions.Variables)
      Variables.execute(spark, s)
    case s if Timezone.matchesSet(s) =>
      // SET TimeZone / Calendar -> session zone (graft.functions.Timezone)
      Timezone.executeSet(spark, s)
    case s if Analyze.matches(s) =>
      // ANALYZE/VACUUM -> Spark table/column statistics (CBO feed)
      Analyze.execute(spark, s)
    case s if Describe.matches(s) =>
      // DESCRIBE / SHOW / SUMMARIZE statements (graft.functions.Describe)
      Describe.execute(spark, s)
    case s if Constraints.matchesTableDdl(s) =>
      // unregister stale constraint entries on DROP / plain re-CREATE
      Constraints.intercept(spark, s)
      Dml.gsql(spark, s)
    case s if Prepared.matches(s) =>
      // TRUE parameter binding (spark.sql(text, args)), re-bound per
      // EXECUTE — reference client_context.cpp:535-627 protocol
      Prepared.execute(spark, s)
    case _ => Dml.gsql(spark, sql)
  }
}
