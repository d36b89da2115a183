package graft.functions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types.{StructField, StructType}

/** Copy-on-write DML over catalog tables: UPDATE / DELETE / TRUNCATE /
  * MERGE INTO.
  *
  * Reference semantics: `src/execution/operator/persistent/physical_update
  * .cpp`, `physical_delete.cpp`, `physical_merge_into.cpp` and the
  * `test/sql/update`, `/delete`, `/merge` suites. The reference mutates row
  * versions inside its MVCC storage layer; Spark's immutable-files model
  * instead RECOMPUTES the table's new contents as one declarative plan —
  * a narrow map for predicate-only UPDATE/DELETE, one shuffled join for
  * UPDATE..FROM / DELETE..USING / MERGE — and `commit` writes them once to
  * a fresh directory and moves the catalog entry there last, the
  * copy-on-write shape Delta/Iceberg use; a failed statement leaves the
  * table as it was. The commit writes the whole (corpus-scale) table; a
  * cluster-scale deployment would prune the rewrite to the files whose
  * rows changed — the plan side is unchanged by that.
  *
  * Row identity: predicate-free matching uses the parquet metadata columns
  * (`_metadata.file_path` + `_metadata.row_index`) as a STABLE row id — no
  * materialization, deterministic across re-evaluations (the same row-id
  * design Delta row-tracking uses). Falls back to an eager localCheckpoint
  * + `monotonically_increasing_id` for non-file-backed relations.
  *
  * Semantics pinned by the reference tests:
  *  - UPDATE .. FROM updates each target row AT MOST ONCE; with multiple
  *    source matches an arbitrary single match wins
  *    (test/sql/update/update_from_multi_match.test).
  *  - MERGE raises a cardinality error when a WHEN MATCHED action would
  *    affect the same target row twice; rows whose clauses all miss (or
  *    hit DO NOTHING) do not count (test/sql/merge/merge_multi_match_error
  *    .test).
  *  - Bare INSERT / INSERT * are POSITIONAL (arity must match: "has N
  *    columns but K values were supplied"); INSERT BY NAME maps by name,
  *    missing target columns take their DEFAULT
  *    (test/sql/merge/merge_into_insert_star.test, _too_few_columns.test).
  *  - RETURNING yields one row per affected target row — new values for
  *    UPDATE, old values for DELETE (update_query_node.test).
  */
object Dml {

  // ------------------------------------------------------------------
  // text scanning (quote/paren aware, same discipline as QualifyRewrite)
  // ------------------------------------------------------------------

  private[functions] def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == '$'

  /** Per-position active quote char (' ' when unquoted) + paren
    * depth. Backticks count as quotes so keyword-named identifiers are
    * masked from keyword detection (r11 ADVICE). */
  private[functions] def scanFull(s: String): (Array[Char], Array[Int]) = {
    val n = s.length
    val qch = new Array[Char](n)
    val depth = new Array[Int](n)
    var q = false; var qc = ' '; var d = 0; var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (q) { qch(i) = qc; depth(i) = d; if (c == qc) q = false }
      else if (c == '\'' || c == '"' || c == '`') { qch(i) = c; depth(i) = d; q = true; qc = c }
      else if (c == '(') { qch(i) = ' '; depth(i) = d; d += 1 }
      else if (c == ')') { qch(i) = ' '; d -= 1; depth(i) = d }
      else { qch(i) = ' '; depth(i) = d }
      i += 1
    }
    (qch, depth)
  }

  private[functions] def scan(s: String): (Array[Boolean], Array[Int]) = {
    val (qch, depth) = scanFull(s)
    (qch.map(_ != ' '), depth)
  }

  private[functions] def kwAt(lower: String, inQ: Array[Boolean], i: Int, kw: String): Boolean =
    !inQ(i) && lower.startsWith(kw, i) &&
      (i == 0 || !isIdent(lower.charAt(i - 1))) &&
      (i + kw.length >= lower.length || !isIdent(lower.charAt(i + kw.length)))

  /** First top-level (depth 0, unquoted) occurrence of any keyword in
    * `kws`, at or after `from`. Returns (index, keyword) or (-1, null). */
  private[functions] def findKw(lower: String, inQ: Array[Boolean], depth: Array[Int],
      from: Int, kws: Seq[String]): (Int, String) = {
    var i = math.max(from, 0)
    while (i < lower.length) {
      if (depth(i) == 0 && !inQ(i)) {
        var k = 0
        while (k < kws.length) {
          if (kwAt(lower, inQ, i, kws(k))) return (i, kws(k))
          k += 1
        }
      }
      i += 1
    }
    (-1, null)
  }

  /** Split `s` on top-level commas. */
  private[functions] def splitTop(s: String): Seq[String] = {
    val (inQ, depth) = scan(s)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ',' && depth(i) == 0 && !inQ(i)) {
        out += s.substring(start, i); start = i + 1
      }
      i += 1
    }
    out += s.substring(start)
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }

  // ------------------------------------------------------------------
  // statement-head detection (handles a leading WITH prefix: the CTE
  // bodies sit inside parens, so the statement verb is the first
  // depth-0 statement keyword)
  // ------------------------------------------------------------------

  private val StmtKws =
    Seq("select", "values", "from", "update", "delete", "merge", "truncate",
      "insert", "create", "drop", "alter", "table", "pivot", "unpivot",
      "describe", "show", "explain", "set", "copy", "call", "summarize")

  private val DmlKws = Set("update", "delete", "merge", "truncate")

  /** (ctePrefix, head, bodyFromHead) — head is null for non-DML. */
  private def splitHead(sql: String): (String, String, String) = {
    val lower = sql.toLowerCase
    val (inQ, depth) = scan(sql)
    var i = 0
    while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
    if (i >= sql.length) return ("", null, sql)
    if (kwAt(lower, inQ, i, "with")) {
      // WITH-prefixed INSERT also routes here: Spark's INSERT grammar
      // has no leading-CTE form (reference: WITH t AS (...) INSERT ...)
      val (j, kw) = findKw(lower, inQ, depth, i + 4, StmtKws)
      if (j < 0 || (!DmlKws.contains(kw) && kw != "insert")) ("", null, sql)
      else (sql.substring(0, j).trim, kw, sql.substring(j))
    } else {
      val (j, kw) = findKw(lower, inQ, depth, i, StmtKws)
      if (j == i && kw == "insert") {
        // plain INSERTs stay native; RETURNING, DEFAULT VALUES,
        // ON CONFLICT and OR REPLACE|IGNORE need the emulation
        val (r, _) = findKw(lower, inQ, depth, j, Seq("returning"))
        val dv = """(?is)DEFAULT\s+VALUES\s*;?\s*$""".r.findFirstIn(sql).isDefined
        val oc = findOnConflictIdx(sql) >= 0
        val orm = """(?is)^\s*INSERT\s+OR\s+(REPLACE|IGNORE)\b""".r
          .findFirstIn(sql).isDefined
        if (r >= 0 || dv || oc || orm) ("", "insert", sql.substring(j))
        else ("", null, sql)
      }
      else if (j != i || kw == null || !DmlKws.contains(kw)) ("", null, sql)
      else ("", kw, sql.substring(j))
    }
  }

  def matches(sql: String): Boolean = splitHead(sql)._2 != null

  private val InsertHeadRe =
    """(?is)^\s*INSERT\s+(?:OR\s+(?:REPLACE|IGNORE)\s+)?INTO\s+((?:"[^"]+"|`[^`]+`|[\w$]+)(?:\s*\.\s*(?:"[^"]+"|`[^`]+`|[\w$]+))*)""".r

  private def insertTarget(sql: String): Option[String] =
    InsertHeadRe.findFirstMatchIn(sql).map(_.group(1))

  /** Session-aware overload: additionally routes plain INSERTs whose
    * target table has registered constraints (pre-append verification —
    * reference data_table.cpp VerifyAppendConstraints). */
  def matches(spark: SparkSession, sql: String): Boolean =
    matches(sql) ||
      insertTarget(sql).exists(t => Constraints.of(spark, t).nonEmpty)

  def execute(spark: SparkSession, sql: String): DataFrame = {
    val (cte, head, body) = splitHead(sql)
    head match {
      case "update"   => runUpdate(spark, cte, body)
      case "delete"   => runDelete(spark, cte, body)
      case "truncate" => runTruncate(spark, body)
      case "merge"    => runMerge(spark, cte, body)
      case "insert"   => runInsertCte(spark, cte, body)
      case _ if insertTarget(sql).exists(t => Constraints.of(spark, t).nonEmpty) =>
        runInsertCte(spark, "", sql)
      case _ => throw new IllegalArgumentException(s"not a DML statement: $sql")
    }
  }

  // ------------------------------------------------------------------
  // shared plumbing
  // ------------------------------------------------------------------

  private[functions] val G = "__graft_"

  /** All SQL built here runs through the engine's dialect pipeline
    * (macro expansion, builtin-catalog strip, chaining, sampling) so
    * user expression text inside DML keeps full dialect support. */
  private[graft] def gsql(spark: SparkSession, text: String): DataFrame =
    spark.sql(Macros.expandAll(spark, text))

  /** Merge a user `WITH a AS (...)` prefix with our own CTE list. */
  private[functions] def mergeCte(userCte: String, ours: String): String =
    if (userCte.isEmpty) s"WITH $ours"
    else userCte.trim.replaceAll("^(?is)WITH\\b", "WITH ") + s", $ours"

  private[functions] def cteify(userCte: String, select: String): String =
    if (userCte.isEmpty) select else s"${userCte.trim} $select"

  private[functions] case class TableRef(name: String, alias: String, rest: String)

  private val IdentRe = """(?s)^\s*((?:"[^"]+"|`[^`]+`|[\w$]+)(?:\s*\.\s*(?:"[^"]+"|`[^`]+`|[\w$]+))*)(.*)$""".r
  private val AliasRe = """(?is)^\s*(?:AS\s+)?("[^"]+"|`[^`]+`|[\w$]+)(.*)$""".r

  private[functions] def unq(s: String): String =
    s.stripPrefix("\"").stripSuffix("\"").stripPrefix("`").stripSuffix("`")

  private val NonAliasKw = Set("set", "where", "using", "on", "when",
    "returning", "from", "as", "values", "select", "default", "by", "with")

  private[functions] def parseTableRef(text: String): TableRef = text match {
    case IdentRe(name0, rest) =>
      // the reference's builtin catalog prefix (main.t / system.main.t)
      // has no Spark database — strip it, like the engine's
      // stripBuiltinCatalog does for queries
      val name = name0.replaceAll("(?i)^(system\\s*\\.\\s*)?main\\s*\\.\\s*", "")
      rest match {
        case AliasRe(a, rest2)
            if !NonAliasKw.contains(a.toLowerCase.stripPrefix("\"").stripSuffix("\"")) =>
          TableRef(name, unq(a), rest2)
        case _ =>
          TableRef(name, unq(name.split('.').last.trim), rest)
      }
    case _ => throw new IllegalArgumentException(s"Parser Error: cannot parse table reference in: $text")
  }

  /** Permanent views reject (reference binder: "can only update/merge
    * into base tables"). TEMPORARY views are ALLOWED as targets: the
    * corpus importer fuses CREATE TABLE + INSERT into temp views, so a
    * temp view is how an imported base table materializes here —
    * commit replaces its contents in place. */
  private def rejectView(spark: SparkSession, table: String, verb: String): Unit =
    if (tableType(spark, table).contains("VIEW")) throw new IllegalArgumentException(
      s"Binder Error: Can only $verb base tables!")

  private[functions] def isTempView(spark: SparkSession, table: String): Boolean =
    tableType(spark, table).contains("TEMPORARY")

  /** Catalog type of the bare name's entry; None when there is none. */
  private[functions] def tableType(spark: SparkSession, table: String): Option[String] =
    try Some(spark.catalog.getTable(q(unq(table.split('.').last))).tableType)
    catch {
      case e: AnalysisException if e.getCondition == "TABLE_OR_VIEW_NOT_FOUND" => None
    }

  private[functions] def schemaOf(spark: SparkSession, table: String): Seq[StructField] =
    spark.table(table).schema.fields.toSeq

  /** Column DEFAULT as a SQL expression ("NULL" when none declared).
    * GRAFT_DEFAULT is the engine's side-channel for defaults Spark's
    * DDL analyzer rejects as non-foldable (nextval()) — set by
    * graft.functions.Alter, honored here on the insert path. */
  private[functions] def defaultExpr(f: StructField): String =
    if (f.metadata.contains("CURRENT_DEFAULT")) f.metadata.getString("CURRENT_DEFAULT")
    else if (f.metadata.contains("GRAFT_DEFAULT")) f.metadata.getString("GRAFT_DEFAULT")
    else "NULL"

  /** duckdb type spellings Spark's DDL parser rejects (bare VARCHAR
    * needs a length in Spark; TEXT/BPCHAR don't exist; STRUCT(a T) uses
    * parens where Spark's DDL wants STRUCT<a T>). */
  private[functions] def normType(t0: String): String = {
    var t = t0.replaceAll("(?i)\\b(VARCHAR|TEXT|BPCHAR)\\b(?!\\s*\\()", "STRING")
    // STRUCT( ... ) -> STRUCT< ... >, innermost-first
    val StructOpen = """(?i)\bSTRUCT\s*\(""".r
    var m = StructOpen.findFirstMatchIn(t)
    var guard = 0
    while (m.isDefined && guard < 32) {
      guard += 1
      val open = m.get.end - 1
      var depth = 0
      var close = open
      var found = -1
      while (close < t.length && found < 0) {
        t.charAt(close) match {
          case '(' => depth += 1
          case ')' => depth -= 1; if (depth == 0) found = close
          case _ =>
        }
        close += 1
      }
      if (found < 0) return t // unbalanced — let Spark report it
      t = t.substring(0, open) + "<" + t.substring(open + 1, found) + ">" +
        t.substring(found + 1)
      m = StructOpen.findFirstMatchIn(t)
    }
    t
  }

  private[functions] def castTo(expr: String, f: StructField): String =
    s"CAST((${expr.trim}) AS ${f.dataType.sql})"

  private[functions] def assignValue(rhs: String, f: StructField): String = {
    val t = rhs.trim
    if (t.equalsIgnoreCase("default")) castTo(defaultExpr(f), f) else castTo(t, f)
  }

  /** True when the predicate text can contain a subquery (needs the
    * join-based row-id path instead of a projection CASE). */
  private[functions] def hasSubquery(s: String): Boolean = {
    val lower = s.toLowerCase
    val (inQ, _) = scan(s)
    var i = lower.indexOf("select")
    while (i >= 0) {
      if (kwAt(lower, inQ, i, "select")) return true
      i = lower.indexOf("select", i + 1)
    }
    false
  }

  /** Relation text `(SELECT t0.*, <gid> AS __graft_gid FROM tbl AS t0)`
    * with a stable per-row id. Probes the parquet metadata columns and
    * falls back to an eager checkpoint for non-file-backed tables. */
  private[functions] def gidRelation(spark: SparkSession, table: String): String = {
    val probe = scala.util.Try {
      spark.sql(s"SELECT _metadata FROM $table LIMIT 0").schema
    }
    if (probe.isSuccess)
      s"(SELECT ${G}t0.*, concat_ws('#', ${G}t0._metadata.file_path, " +
        s"CAST(${G}t0._metadata.row_index AS STRING)) AS ${G}gid " +
        s"FROM $table AS ${G}t0)"
    else {
      import org.apache.spark.sql.functions.monotonically_increasing_id
      val vn = G + "base_" + math.abs(table.hashCode).toString
      spark.table(table).withColumn(G + "gid",
        monotonically_increasing_id().cast("string"))
        .localCheckpoint(true).createOrReplaceTempView(vn)
      vn
    }
  }

  /** Commit a statement's new contents, built once and written once.
    * `newSql` yields the table's columns plus flags: `__graft_aff` (1 per
    * affected row) and, where needed, `__graft_keep` (false for a deleted
    * row) and `__graft_nact` (MERGE: matched actions per target row). The
    * written plan observes the affected count and MERGE's cardinality
    * verdict; declared constraints (reference data_table.cpp:914
    * VerifyAppendConstraints) and a referenced parent's keys (RESTRICT,
    * test_fk_chain.test) verify the written rows before the table
    * changes. Returns the affected-row count. */
  private[functions] def commit(spark: SparkSession, table: String, newSql: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, sum}
    val df0 = gsql(spark, newSql)
    val tcOpt = Constraints.of(spark, table)
    // generated columns recompute from the rewritten rows; their strict-
    // cast probe is a job of its own, so observe only the plan written
    val df1 = tcOpt.filter(_.generated.nonEmpty)
      .map(tc => Constraints.applyGenerated(spark, tc, df0)).getOrElse(df0)
    def flag(name: String, absent: Any) =
      if (df1.columns.contains(G + name)) col(G + name) else lit(absent)
    val obsName = G + "commit_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val df = df1
      .observe(obsName, coalesce(sum(col(G + "aff")), lit(0L)),
        coalesce(max(flag("nact", 0L)), lit(0L)))
      .where(flag("keep", true))
      .select(schemaOf(spark, table).map(f => col(q(f.name))): _*)
    // a listener for this statement only (Spark's Observation listener
    // stays on the session and re-analyzes every later failed query)
    val metrics = scala.concurrent.Promise[Row]()
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.exists { case c: CollectMetrics => c.name == obsName; case _ => false })
          qe.observedMetrics.get(obsName).foreach(metrics.trySuccess)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    lazy val m = scala.concurrent.Await.result(metrics.future,
      scala.concurrent.duration.Duration(2, "min"))
    def verify(written: DataFrame): Unit = {
      if (m.getLong(1) > 1) throw new RuntimeException(
        "Merge error: MERGE INTO cannot affect the same target row more than once")
      tcOpt.foreach(tc => Constraints.verifyContents(spark, tc, written, table))
      Constraints.verifyParentRewrite(spark, table, written)
    }
    spark.listenerManager.register(listener)
    try {
      if (isTempView(spark, table)) {
        // importer-fused "table": materialize the new contents (they
        // read the old view), verify them and replace the view
        val written = df.localCheckpoint(true)
        verify(written)
        written.createOrReplaceTempView(unq(table.split('.').last))
      } else replaceFiles(spark, table, df)(verify)
    } finally spark.listenerManager.unregister(listener)
    m.getLong(0)
  }

  /** Replace a catalog table's files (and, for ALTER, its schema) with
    * `df`, written once to a fresh sibling directory through an external
    * staging entry. `check` runs on the written files; only then does the
    * table's entry move to the new directory and the old one go, the
    * pointer-swap commit of Delta and Iceberg. A failure before that drops
    * the stage and its files. A directory that must not move (a user
    * LOCATION, catalog-tracked partitions) takes the checked rows by
    * overwrite instead. */
  private[functions] def replaceFiles(spark: SparkSession, table: String, df: DataFrame,
      schema: Option[StructType] = None)(check: DataFrame => Unit): Unit = {
    val cat = spark.sessionState.catalog
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(table.replace("\"", "`"))
    val meta = cat.getTableMetadata(TableIdentifier(parts.last, parts.init.lastOption))
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val fresh = new Path(meta.location.toString.stripSuffix("/")
      .replaceAll(s"${G}v\\w+$$", "") + s"${G}v$uid")
    val next = meta.copy(schema = schema.getOrElse(meta.schema), stats = None,
      storage = meta.storage.copy(locationUri = Some(fresh.toUri)))
    val stage = meta.identifier.copy(table = s"${G}stage_$uid")
    val fs = fresh.getFileSystem(spark.sessionState.newHadoopConf())
    def dropStage(): Unit = {
      cat.dropTable(stage, ignoreIfNotExists = true, purge = false)
      fs.delete(fresh, true): Unit
    }
    try {
      fs.mkdirs(fresh)
      cat.createTable(next.copy(identifier = stage, tableType = CatalogTableType.EXTERNAL),
        ignoreIfExists = false)
      df.write.insertInto(stage.quotedString)
      check(spark.table(stage.quotedString))
    } catch { case e: Throwable => dropStage(); throw e }
    if (meta.tableType == CatalogTableType.EXTERNAL || meta.partitionColumnNames.nonEmpty) {
      if (schema.isDefined) cat.alterTable(next.copy(storage = meta.storage))
      spark.table(stage.quotedString).write.mode("overwrite").insertInto(meta.identifier.quotedString)
      dropStage()
    } else {
      cat.alterTable(next)
      cat.dropTable(stage, ignoreIfNotExists = false, purge = false)
      spark.catalog.refreshTable(meta.identifier.quotedString)
      fs.delete(new Path(meta.location), true): Unit
    }
  }

  private val AggFnNames = Set("sum", "count", "avg", "mean", "min", "max",
    "median", "mode", "stddev", "stddev_pop", "stddev_samp", "variance",
    "var_pop", "var_samp", "string_agg", "group_concat", "list", "array_agg",
    "bool_and", "bool_or", "bit_and", "bit_or", "bit_xor", "product",
    "first", "last", "arg_min", "arg_max", "any_value")


  /** A RETURNING projection resolving to NO columns is a binder error —
    * raised before any mutation (no_crash_when_no_returning_columns). */
  private def checkRetSchema(ret: DataFrame): DataFrame = {
    if (ret != null && ret.schema.isEmpty) throw new IllegalArgumentException(
      "Binder Error: RETURNING clause projects no columns")
    ret
  }

  /** RETURNING projects per-affected-row values; aggregate calls are a
    * binder error (reference bind_function_expression.cpp:555 via the
    * returning binder, test/sql/returning/returning_update.test). */
  private[functions] def rejectAggregates(retText: String): Unit = {
    if (retText.isEmpty) return
    // subqueries in RETURNING are a binder error too
    // (returning_update.test: RETURNING a IN (SELECT ...))
    if (hasSubquery(retText))
      throw new IllegalArgumentException(
        "Binder Error: SUBQUERY is not supported in returning statements")
    val lower = retText.toLowerCase
    val (inQ, _) = scan(retText)
    var i = 0
    while (i < retText.length) {
      val c = retText.charAt(i)
      if (!inQ(i) && (c.isLetter || c == '_')) {
        var j = i
        while (j < retText.length && isIdent(retText.charAt(j))) j += 1
        val tok = lower.substring(i, j)
        var k = j
        while (k < retText.length && retText.charAt(k).isWhitespace) k += 1
        if (k < retText.length && retText.charAt(k) == '(' && AggFnNames.contains(tok))
          throw new IllegalArgumentException(
            "Binder Error: Aggregate functions are not supported here")
        i = j
      } else i += 1
    }
  }

  private[functions] def countDf(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    Seq(n).toDF("Count")
  }

  /** Collect a result set eagerly (the table is about to be rewritten)
    * and re-materialize it as a local DataFrame. RETURNING result sets
    * are bounded by the rows one statement touches. */
  private[functions] def freeze(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  // ------------------------------------------------------------------
  // UPDATE
  // ------------------------------------------------------------------

  private[functions] case class Assign(col: String, rhs: String)

  /** Parse a SET list: `a = e`, `(a, b) = (e1, e2)`, `(a, b) = e`. */
  private[functions] def parseAssigns(setText: String, table: String,
      fields: Seq[StructField]): Seq[Assign] = {
    val byName = fields.map(f => f.name.toLowerCase -> f).toMap
    def checkCol(raw0: String): String = {
      val raw = raw0.trim
      if (raw.contains('.'))
        throw new IllegalArgumentException(
          "Parser Error: Qualified column names in UPDATE .. SET not supported - use the unqualified name instead")
      val name = unq(raw)
      byName.get(name.toLowerCase) match {
        case Some(f) => f.name
        case None =>
          val cand = fields.map(_.name).sortBy(c =>
            -c.toLowerCase.zip(name.toLowerCase).count { case (a, b) => a == b })
            .headOption.getOrElse("")
          throw new IllegalArgumentException(
            s"""Binder Error: Referenced update column $name not found in table! Candidate update columns: "$cand"""")
      }
    }
    splitTop(setText).flatMap { item =>
      val (inQ, depth) = scan(item)
      var eq = -1
      var i = 0
      while (eq < 0 && i < item.length) {
        if (item.charAt(i) == '=' && depth(i) == 0 && !inQ(i) &&
            (i == 0 || "<>!".indexOf(item.charAt(i - 1)) < 0) &&
            (i + 1 >= item.length || item.charAt(i + 1) != '=')) eq = i
        i += 1
      }
      if (eq < 0) throw new IllegalArgumentException(
        s"Parser Error: expected assignment in SET clause: $item")
      val lhs = item.substring(0, eq).trim
      val rhs = item.substring(eq + 1).trim
      if (lhs.startsWith("(")) {
        val cols = splitTop(lhs.stripPrefix("(").stripSuffix(")")).map(checkCol)
        val rhsInner = rhs.stripPrefix("ROW").trim
        if (rhsInner.startsWith("(") && rhsInner.endsWith(")")) {
          val exprs = splitTop(rhsInner.substring(1, rhsInner.length - 1))
          if (exprs.length == cols.length) cols.zip(exprs).map { case (c, e) => Assign(c, e) }
          else if (exprs.length == 1) cols.map(c => Assign(c, exprs.head))
          else throw new IllegalArgumentException(
            s"Binder Error: Number of columns (${cols.length}) does not match number of expressions (${exprs.length})")
        } else cols.map(c => Assign(c, rhs)) // scalar broadcast
      } else Seq(Assign(checkCol(lhs), rhs))
    }
  }

  private def runUpdate(spark: SparkSession, cte: String, body: String): DataFrame = {
    val after = body.replaceFirst("(?is)^\\s*UPDATE\\b", "")
    val tr = parseTableRef(after)
    rejectView(spark, tr.name, "update")
    val fields = schemaOf(spark, tr.name)
    val lower = tr.rest.toLowerCase
    val (inQ, depth) = scan(tr.rest)
    val (setIdx, _) = findKw(lower, inQ, depth, 0, Seq("set"))
    if (setIdx < 0) throw new IllegalArgumentException("Parser Error: UPDATE requires a SET clause")
    val (fromIdx, _) = findKw(lower, inQ, depth, setIdx + 3, Seq("from"))
    val (whereIdx, _) = findKw(lower, inQ, depth, setIdx + 3, Seq("where"))
    val (retIdx, _) = findKw(lower, inQ, depth, setIdx + 3, Seq("returning"))
    def seg(from: Int, ends: Seq[Int]): String = {
      val end = ends.filter(_ > from).sorted.headOption.getOrElse(tr.rest.length)
      tr.rest.substring(from, end)
    }
    val setText = seg(setIdx + 3, Seq(fromIdx, whereIdx, retIdx))
    val fromText = if (fromIdx < 0) "" else seg(fromIdx + 4, Seq(whereIdx, retIdx)).trim
    val whereText = if (whereIdx < 0) "" else seg(whereIdx + 5, Seq(retIdx)).trim
    val retText = if (retIdx < 0) "" else tr.rest.substring(retIdx + 9).trim
    rejectAggregates(retText)
    val assigns = parseAssigns(setText, tr.name, fields)
    // generated columns are not assignable (generated_columns/virtual/
    // update.test); they recompute from the new row in commit
    Constraints.of(spark, tr.name).foreach { tc =>
      val gen = tc.generated.map(_.name.toLowerCase).toSet
      assigns.find(a => gen(a.col.toLowerCase)).foreach(a =>
        throw new IllegalArgumentException(
          s"""Binder Error: Cannot update column "${a.col}" because it is a generated column!"""))
    }
    val assigned = assigns.map(a => a.col.toLowerCase -> a).toMap
    val fieldByName = fields.map(f => f.name.toLowerCase -> f).toMap

    if (fromText.isEmpty && (whereText.isEmpty || !hasSubquery(whereText))) {
      // map-only path: one narrow projection, no shuffle
      val cols = fields.map { f =>
        assigned.get(f.name.toLowerCase) match {
          case Some(a) if whereText.isEmpty => s"${assignValue(a.rhs, f)} AS ${q(f.name)}"
          case Some(a) =>
            s"CASE WHEN ($whereText) THEN ${assignValue(a.rhs, f)} ELSE ${q(f.name)} END AS ${q(f.name)}"
          case None => q(f.name)
        }
      }
      val rel = s"${tr.name} AS ${q(tr.alias)}"
      val aff = if (whereText.isEmpty) "1" else s"CASE WHEN ($whereText) THEN 1 ELSE 0 END"
      val newSql = cteify(cte, s"SELECT ${cols.mkString(", ")}, $aff AS ${G}aff FROM $rel")
      val ret =
        if (retText.isEmpty) null
        else freeze(spark, gsql(spark, cteify(cte,
          s"SELECT $retText FROM (SELECT ${cols.mkString(", ")} FROM $rel" +
            (if (whereText.isEmpty) "" else s" WHERE $whereText") +
            s") AS ${q(tr.alias)}")))
      checkRetSchema(ret)
      val cnt = commit(spark, tr.name, newSql)
      if (ret != null) ret else countDf(spark, cnt)
    } else {
      // join path (UPDATE .. FROM and/or subquery predicates): stable
      // row id, arbitrary single match per target row
      val base = gidRelation(spark, tr.name)
      val newVals = assigns.zipWithIndex.map { case (a, i) =>
        s"${assignValue(a.rhs, fieldByName(a.col.toLowerCase))} AS ${G}n_$i"
      }
      val fromPart = if (fromText.isEmpty) "" else s", $fromText"
      val wherePart = if (whereText.isEmpty) "" else s" WHERE $whereText"
      val matches =
        s"""SELECT * FROM (
           |  SELECT ${q(tr.alias)}.${G}gid AS ${G}mgid, ${newVals.mkString(", ")},
           |         row_number() OVER (PARTITION BY ${q(tr.alias)}.${G}gid
           |                            ORDER BY ${q(tr.alias)}.${G}gid) AS ${G}rn
           |  FROM $base AS ${q(tr.alias)}$fromPart$wherePart
           |) WHERE ${G}rn = 1""".stripMargin
      val idxByCol = assigns.zipWithIndex.map { case (a, i) => a.col.toLowerCase -> i }.toMap
      val outCols = fields.map { f =>
        idxByCol.get(f.name.toLowerCase) match {
          case Some(i) =>
            s"CASE WHEN ${G}m.${G}mgid IS NOT NULL THEN ${G}m.${G}n_$i ELSE ${G}t.${q(f.name)} END AS ${q(f.name)}"
          case None => s"${G}t.${q(f.name)} AS ${q(f.name)}"
        }
      }
      val newSql = cteify(cte,
        s"""SELECT ${outCols.mkString(", ")},
           |       CASE WHEN ${G}m.${G}mgid IS NOT NULL THEN 1 ELSE 0 END AS ${G}aff
           |FROM $base AS ${G}t LEFT JOIN ($matches) AS ${G}m
           |  ON ${G}t.${G}gid = ${G}m.${G}mgid""".stripMargin)
      val ret =
        if (retText.isEmpty) null
        else {
          val updCols = fields.map { f =>
            idxByCol.get(f.name.toLowerCase) match {
              case Some(i) => s"${G}m.${G}n_$i AS ${q(f.name)}"
              case None => s"${G}t.${q(f.name)} AS ${q(f.name)}"
            }
          }
          freeze(spark, gsql(spark, cteify(cte,
            s"""SELECT $retText FROM (
               |  SELECT ${updCols.mkString(", ")}
               |  FROM $base AS ${G}t JOIN ($matches) AS ${G}m
               |    ON ${G}t.${G}gid = ${G}m.${G}mgid) AS ${q(tr.alias)}""".stripMargin)))
        }
      checkRetSchema(ret)
      val cnt = commit(spark, tr.name, newSql)
      if (ret != null) ret else countDf(spark, cnt)
    }
  }

  /** Always backtick-quote: keyword-named columns (`order`, `from`)
    * would otherwise make generated SQL unparseable (r11 ADVICE). */
  private[functions] def q(name: String): String =
    "`" + name.replace("`", "``") + "`"

  // ------------------------------------------------------------------
  // DELETE
  // ------------------------------------------------------------------

  private def runDelete(spark: SparkSession, cte: String, body: String): DataFrame = {
    val after = body.replaceFirst("(?is)^\\s*DELETE\\s+FROM\\b", "")
    val tr = parseTableRef(after)
    rejectView(spark, tr.name, "delete from")
    val fields = schemaOf(spark, tr.name)
    val lower = tr.rest.toLowerCase
    val (inQ, depth) = scan(tr.rest)
    val (usingIdx, _) = findKw(lower, inQ, depth, 0, Seq("using"))
    val (whereIdx, _) = findKw(lower, inQ, depth, 0, Seq("where"))
    val (retIdx, _) = findKw(lower, inQ, depth, 0, Seq("returning"))
    def seg(from: Int, ends: Seq[Int]): String = {
      val end = ends.filter(_ > from).sorted.headOption.getOrElse(tr.rest.length)
      tr.rest.substring(from, end)
    }
    val usingText = if (usingIdx < 0) "" else seg(usingIdx + 5, Seq(whereIdx, retIdx)).trim
    val whereText = if (whereIdx < 0) "" else seg(whereIdx + 5, Seq(retIdx)).trim
    val retText = if (retIdx < 0) "" else tr.rest.substring(retIdx + 9).trim
    rejectAggregates(retText)
    val colList = fields.map(f => q(f.name)).mkString(", ")

    if (usingText.isEmpty && (whereText.isEmpty || !hasSubquery(whereText))) {
      val rel = s"${tr.name} AS ${q(tr.alias)}"
      val hit = if (whereText.isEmpty) "true" else s"($whereText) IS TRUE"
      val newSql = cteify(cte, s"SELECT $colList, CASE WHEN $hit THEN 1 ELSE 0 END AS ${G}aff, " +
        s"NOT $hit AS ${G}keep FROM $rel")
      val ret =
        if (retText.isEmpty) null
        else freeze(spark, gsql(spark, cteify(cte,
          s"SELECT $retText FROM (SELECT $colList FROM $rel" +
            (if (whereText.isEmpty) "" else s" WHERE ($whereText) IS TRUE") +
            s") AS ${q(tr.alias)}")))
      checkRetSchema(ret)
      val cnt = commit(spark, tr.name, newSql)
      if (ret != null) ret else countDf(spark, cnt)
    } else {
      val base = gidRelation(spark, tr.name)
      val usingPart = if (usingText.isEmpty) "" else s", $usingText"
      val wherePart = if (whereText.isEmpty) "" else s" WHERE $whereText"
      val matched =
        s"""SELECT DISTINCT ${q(tr.alias)}.${G}gid AS ${G}mgid
           |FROM $base AS ${q(tr.alias)}$usingPart$wherePart""".stripMargin
      val tcols = fields.map(f => s"${G}t.${q(f.name)} AS ${q(f.name)}").mkString(", ")
      val newSql = cteify(cte,
        s"""SELECT $tcols, CASE WHEN ${G}m.${G}mgid IS NULL THEN 0 ELSE 1 END AS ${G}aff,
           |       ${G}m.${G}mgid IS NULL AS ${G}keep
           |FROM $base AS ${G}t
           |LEFT JOIN ($matched) AS ${G}m ON ${G}t.${G}gid = ${G}m.${G}mgid""".stripMargin)
      val ret =
        if (retText.isEmpty) null
        else freeze(spark, gsql(spark, cteify(cte,
          s"""SELECT $retText FROM (
             |  SELECT $tcols FROM $base AS ${G}t
             |  LEFT SEMI JOIN ($matched) AS ${G}m ON ${G}t.${G}gid = ${G}m.${G}mgid
             |) AS ${q(tr.alias)}""".stripMargin)))
      checkRetSchema(ret)
      val cnt = commit(spark, tr.name, newSql)
      if (ret != null) ret else countDf(spark, cnt)
    }
  }

  // ------------------------------------------------------------------
  // INSERT: leading-CTE, RETURNING, DEFAULT VALUES, constraint-verified
  // appends, and ON CONFLICT upsert (INSERT OR REPLACE / OR IGNORE).
  //
  // Reference: `src/execution/operator/persistent/physical_insert
  // .cpp:32-91` (OnConflictAction THROW/NOTHING/UPDATE with excluded.*
  // binding) and `src/planner/binder/statement/bind_insert.cpp:380-460`
  // — which lowers ON CONFLICT onto MERGE INTO, the same shape used
  // here: one LEFT JOIN of the table against the (deduplicated) batch
  // computes the updated contents, one ANTI JOIN the fresh appends.
  // Batch-internal conflicts keep the LAST occurrence
  // (test/sql/upsert/upsert_global_mixed_conflicts.test: key 7 inserts
  // 'tes', not 'tese'); NULL keys never conflict
  // (upsert_unique_null.test); a DO UPDATE .. WHERE that filters a
  // conflict out degrades it to DO NOTHING (upsert_returning.test).
  // ------------------------------------------------------------------

  /** Start index of the first top-level `ON CONFLICT`, or -1. */
  private def findOnConflictIdx(rest: String): Int = {
    val lower = rest.toLowerCase
    val (inQ, depth) = scan(rest)
    var i = 0
    while (i >= 0 && i < rest.length) {
      val (j, _) = findKw(lower, inQ, depth, i, Seq("conflict"))
      if (j < 0) return -1
      var p = j - 1
      while (p >= 0 && rest.charAt(p).isWhitespace) p -= 1
      if (p >= 1 && !inQ(p) && lower.charAt(p) == 'n' && lower.charAt(p - 1) == 'o' &&
          (p - 1 == 0 || !isIdent(lower.charAt(p - 2))))
        return p - 1
      i = j + 8
    }
    -1
  }

  /** `update` None = DO NOTHING; Some((assigns, whereText)). */
  private case class Conflict(target: Option[Seq[String]],
      update: Option[(Seq[Assign], String)])

  private def parseConflict(text0: String, fields: Seq[StructField]): Conflict = {
    var t = text0.replaceFirst("(?is)^\\s*ON\\s+CONFLICT\\b", "").trim
    var target: Option[Seq[String]] = None
    if (t.startsWith("(")) {
      val (_, d) = scanFull(t)
      var close = 1
      while (close < t.length && !(t.charAt(close) == ')' && d(close) == d(0))) close += 1
      target = Some(splitTop(t.substring(1, close)).map(unq))
      t = t.substring(close + 1).trim
    }
    if (!t.toLowerCase.startsWith("do")) throw new IllegalArgumentException(
      s"Parser Error: expected DO NOTHING or DO UPDATE in ON CONFLICT clause: $text0")
    t = t.substring(2).trim
    val tl = t.toLowerCase
    if (tl.startsWith("nothing")) Conflict(target, None)
    else if (tl.startsWith("update")) {
      var rest = t.substring(6).trim.replaceFirst("(?is)^SET\\b", "").trim
      val (inQ, depth) = scan(rest)
      val (wIdx, _) = findKw(rest.toLowerCase, inQ, depth, 0, Seq("where"))
      val setText = if (wIdx < 0) rest else rest.substring(0, wIdx)
      val whText = if (wIdx < 0) "" else rest.substring(wIdx + 5).trim
      Conflict(target, Some((parseAssigns(setText, "", fields), whText)))
    } else throw new IllegalArgumentException(
      s"Parser Error: expected DO NOTHING or DO UPDATE in ON CONFLICT clause: $text0")
  }

  /** Rewrite `alias.`-qualified references (any name in `from`) to the
    * internal alias `to`, quote/ident aware. */
  private def requalify(e: String, from: Seq[String], to: String): String = {
    val lower = e.toLowerCase
    val (inQ, _) = scan(e)
    val aliases = from.map(_.toLowerCase).distinct.filter(_.nonEmpty)
    val sb = new StringBuilder
    var i = 0
    while (i < e.length) {
      var hit = false
      for (al <- aliases if !hit) {
        if (kwAt(lower, inQ, i, al)) {
          var j = i + al.length
          while (j < e.length && e.charAt(j).isWhitespace) j += 1
          var p = i - 1
          while (p >= 0 && e.charAt(p).isWhitespace) p -= 1
          if (j < e.length && e.charAt(j) == '.' && (p < 0 || e.charAt(p) != '.')) {
            sb.append(to).append('.')
            i = j + 1
            while (i < e.length && e.charAt(i).isWhitespace) i += 1
            hit = true
          }
        }
      }
      if (!hit) { sb.append(e.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Append full-width rows from `view` to `table` (native INSERT for
    * real tables; union + view swap for importer-fused temp views). */
  private[functions] def appendRows(spark: SparkSession, table: String,
      fields: Seq[StructField], view: String): Unit = {
    val colList = fields.map(f => q(f.name)).mkString(", ")
    if (isTempView(spark, table)) {
      spark.table(table)
        .unionAll(spark.sql(s"SELECT $colList FROM $view"))
        .localCheckpoint(true)
        .createOrReplaceTempView(unq(table.split('.').last))
    } else gsql(spark, s"INSERT INTO $table SELECT $colList FROM $view").collect(): Unit
  }

  private def runInsertCte(spark: SparkSession, cte: String, body: String): DataFrame = {
    val HeadRe = """(?is)^\s*INSERT\s+(?:OR\s+(REPLACE|IGNORE)\s+)?INTO\b""".r
    val hm = HeadRe.findFirstMatchIn(body).getOrElse(
      throw new IllegalArgumentException(s"Parser Error: cannot parse INSERT statement: $body"))
    val orMode = Option(hm.group(1)).map(_.toLowerCase)
    val after = body.substring(hm.end)
    val tr = parseTableRef(after)
    val fields = schemaOf(spark, tr.name)
    val colList = fields.map(f => q(f.name)).mkString(", ")
    var rest = tr.rest.trim
    // RETURNING tail
    val (inQ0, depth0) = scan(rest)
    val (retIdx, _) = findKw(rest.toLowerCase, inQ0, depth0, 0, Seq("returning"))
    val retText = if (retIdx < 0) "" else rest.substring(retIdx + 9).trim.stripSuffix(";")
    rejectAggregates(retText)
    if (retIdx >= 0) rest = rest.substring(0, retIdx).trim
    // ON CONFLICT clause
    val ocIdx = findOnConflictIdx(rest)
    val conflictOpt =
      if (ocIdx < 0) None
      else {
        val c = parseConflict(rest.substring(ocIdx), fields)
        rest = rest.substring(0, ocIdx).trim
        Some(c)
      }
    var givenCols: Option[Seq[String]] = None
    if (rest.startsWith("(")) {
      // could be a column list or a parenthesized SELECT
      val inner = rest.stripPrefix("(")
      val head = inner.takeWhile(c => c != ')' && c != '(').toLowerCase
      if (!head.trim.startsWith("select") && !head.trim.startsWith("from") &&
          !head.trim.startsWith("values") && !head.trim.startsWith("with")) {
        val (_, d) = scan(rest)
        var close = 1
        while (close < rest.length && !(rest.charAt(close) == ')' && d(close) == 0)) close += 1
        givenCols = Some(splitTop(rest.substring(1, close)).map(unq))
        rest = rest.substring(close + 1).trim
      }
    }
    givenCols.foreach(_.foreach { c =>
      if (!fields.exists(_.name.equalsIgnoreCase(c)))
        throw new IllegalArgumentException(
          s"""Binder Error: Column "$c" does not exist in table ${tr.name}!""")
    })
    val isDefaultValues = rest.replaceAll("[;\\s]+$", "")
      .equalsIgnoreCase("default values")
    if (isDefaultValues && givenCols.nonEmpty)
      throw new IllegalArgumentException(
        "Parser Error: You can not provide both a column list and DEFAULT VALUES, please remove one of the two")
    // generated columns are not insertable: positional mappings (bare
    // VALUES, DEFAULT VALUES, width checks) run over the insertable
    // subset; their values recompute from the mapped row below
    val genColsEarly = Constraints.of(spark, tr.name)
      .map(_.generated.map(_.name.toLowerCase).toSet)
      .getOrElse(Set.empty[String])
    val insertableEarly = fields.filterNot(f => genColsEarly(f.name.toLowerCase))
    // bare DEFAULT inside a VALUES list: substitute the target column's
    // declared default (reference ExpandDefaultInValuesList,
    // bind_insert.cpp:468) — it has no meaning to Spark's inline tables
    if (!isDefaultValues && rest.toLowerCase.startsWith("values") &&
        """(?i)\bDEFAULT\b""".r.findFirstIn(rest).isDefined) {
      val targets = givenCols.getOrElse(insertableEarly.map(_.name))
      val byPos = targets.map(c =>
        fields.find(_.name.equalsIgnoreCase(c)).orNull)
      val tuples = splitTop(rest.replaceFirst("(?is)^VALUES\\b", "")).map { tup =>
        val inner = tup.trim.stripPrefix("(").stripSuffix(")")
        val vals = splitTop(inner).zipWithIndex.map { case (v, i) =>
          if (v.trim.equalsIgnoreCase("default") && i < byPos.length && byPos(i) != null)
            castTo(defaultExpr(byPos(i)), byPos(i))
          else v
        }
        "(" + vals.mkString(", ") + ")"
      }
      rest = "VALUES " + tuples.mkString(", ")
    }
    val src0 =
      if (isDefaultValues) {
        val cols = insertableEarly.map(f =>
          s"${castTo(defaultExpr(f), f)} AS ${q(f.name)}")
        freeze(spark, gsql(spark, s"SELECT ${cols.mkString(", ")}"))
      } else {
        val srcSql = cteify(cte, if (rest.startsWith("(")) s"SELECT * FROM $rest" else rest)
        freeze(spark, gsql(spark, srcSql))
      }
    // positional rename: the source may repeat a column name (SELECT
    // i, i FROM ...) which would make every downstream reference
    // ambiguous — the mapping into the target is positional anyway
    val src = src0.toDF(
      src0.schema.fields.indices.map(i => s"${G}c$i"): _*)
    val vn = s"${G}ins_src"
    src.createOrReplaceTempView(vn)
    val srcNames = src.schema.fields.map(_.name).toSeq
    val tc = Constraints.of(spark, tr.name)

    val needFullWidth = conflictOpt.nonEmpty || orMode.nonEmpty ||
      tc.nonEmpty || retText.nonEmpty
    if (!needFullWidth) {
      // plain emulated insert (leading CTE / DEFAULT VALUES only)
      val colsPart =
        if (isDefaultValues || givenCols.isEmpty) ""
        else s" (${givenCols.get.map(q).mkString(", ")})"
      gsql(spark, s"INSERT INTO ${tr.name}$colsPart SELECT * FROM $vn").collect()
      return countDf(spark, src.count())
    }

    // full-width batch (given columns from the source positionally, the
    // rest from their defaults) with a stable per-row id. Generated
    // columns are not insertable: positional width excludes them, an
    // explicit mention is a binder error, and their values recompute
    // from the mapped row (generated_columns/virtual/insert.test).
    val genCols = genColsEarly
    val insertable = insertableEarly
    givenCols.toSeq.flatten.find(c => genCols(unq(c).toLowerCase)).foreach(c =>
      throw new IllegalArgumentException(
        s"Binder Error: Cannot insert into column \"${unq(c)}\" - it is a generated column!"))
    if (!isDefaultValues) {
      val expect = givenCols.map(_.length).getOrElse(insertable.length)
      if (srcNames.length != expect)
        throw new IllegalArgumentException(
          s"Binder Error: table ${tr.name} has $expect columns but ${srcNames.length} values were supplied")
    }
    val byTarget = givenCols.getOrElse(insertable.map(_.name)).map(_.toLowerCase)
      .zipWithIndex.toMap
    val rowCols = fields.map { f =>
      byTarget.get(f.name.toLowerCase) match {
        case Some(i) if i < srcNames.length =>
          s"CAST(${q(srcNames(i))} AS ${f.dataType.sql}) AS ${q(f.name)}"
        case _ => s"${castTo(defaultExpr(f), f)} AS ${q(f.name)}"
      }
    }
    val ins0 = gsql(spark,
      s"SELECT ${rowCols.mkString(", ")}, monotonically_increasing_id() AS ${G}rid FROM $vn")
    val ins = freeze(spark, tc.filter(_.generated.nonEmpty)
      .map(c => Constraints.applyGenerated(spark, c, ins0)).getOrElse(ins0))
    val insV = s"${G}ins"
    ins.createOrReplaceTempView(insV)

    def returning(rel: String): DataFrame =
      freeze(spark, gsql(spark,
        s"SELECT $retText FROM (SELECT $colList FROM $rel) AS ${q(tr.alias)}"))

    // the reference BINDS the RETURNING projection before any write —
    // a bad projection (or one that excludes every column) must reject
    // without touching the table (no_crash_when_no_returning_columns)
    def validateReturning(): Unit = if (retText.nonEmpty) {
      val probe = gsql(spark,
        s"SELECT $retText FROM (SELECT $colList FROM $insV) AS ${q(tr.alias)} LIMIT 0")
      if (probe.schema.isEmpty) throw new IllegalArgumentException(
        "Binder Error: RETURNING clause projects no columns")
    }

    if (conflictOpt.isEmpty && orMode.isEmpty) {
      // constraint-verified / RETURNING append
      validateReturning()
      tc.foreach(c => Constraints.verifyAppend(spark, c, insV, tr.name))
      appendRows(spark, tr.name, fields, insV)
      return if (retText.isEmpty) countDf(spark, ins.count()) else returning(insV)
    }
    validateReturning()

    // ---- ON CONFLICT upsert ----
    if (tr.alias.equalsIgnoreCase("excluded"))
      throw new IllegalArgumentException(
        """Binder Error: Ambiguous reference to table "excluded"""")
    val conflict = (orMode, conflictOpt) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "Parser Error: You can not provide both OR REPLACE|IGNORE and an ON CONFLICT clause, please remove one of the two")
      case (Some("ignore"), None) => Conflict(None, None)
      case (Some(_), None) => Conflict(None,
        Some((fields.map(f => Assign(f.name, s"excluded.${q(f.name)}")), "")))
      case (None, Some(c)) => c
      case (None, None) => throw new IllegalStateException("unreachable")
    }
    val cons = tc.filter(_.uniques.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        "Binder Error: There are no UNIQUE/PRIMARY KEY constraints that refer to this table, specify ON CONFLICT columns manually"))
    val targetSets: Seq[Constraints.UniqueSet] = conflict.target match {
      case Some(cols) =>
        val want = cols.map(_.toLowerCase).toSet
        cons.uniques.find(_.cols.map(_.toLowerCase).toSet == want)
          .map(Seq(_)).getOrElse(throw new IllegalArgumentException(
            "Binder Error: The specified columns as conflict target are not referenced by a UNIQUE/PRIMARY KEY CONSTRAINT or INDEX"))
      case None =>
        if (conflict.update.nonEmpty && cons.uniques.length > 1)
          throw new IllegalArgumentException(
            "Binder Error: Conflict target has to be provided for a DO UPDATE operation when the table has multiple UNIQUE/PRIMARY KEY constraints")
        cons.uniques
    }

    def keyParts(u: Constraints.UniqueSet): (String, String) = {
      val nonNull = u.cols.map(c => s"${q(c)} IS NOT NULL").mkString(" AND ")
      val keyStruct = "named_struct(" + u.cols.zipWithIndex.map {
        case (c, i) => s"'${G}f$i', ${q(c)}"
      }.mkString(", ") + ")"
      (nonNull, keyStruct)
    }

    /** Deduplicate the batch on a unique set; rows with a NULL key are
      * exempt (they never conflict). keepLast = DO UPDATE semantics. */
    def dedupSql(rel: String, u: Constraints.UniqueSet, k: Int, keepLast: Boolean): String = {
      val (nonNull, keyStruct) = keyParts(u)
      val ord = if (keepLast) s"${G}rid DESC" else G + "rid"
      s"""SELECT $colList, ${G}rid FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY CASE WHEN $nonNull THEN $keyStruct END,
         |                 CASE WHEN $nonNull THEN NULL ELSE ${G}rid END
         |    ORDER BY $ord) AS ${G}rn$k
         |  FROM ($rel)) WHERE ${G}rn$k = 1""".stripMargin
    }

    conflict.update match {
      case None =>
        // DO NOTHING: drop batch-internal duplicates (keep first) and
        // rows conflicting with the existing table, per target set
        var rel = s"SELECT * FROM $insV"
        for ((u, k) <- targetSets.zipWithIndex)
          rel = dedupSql(rel, u, k, keepLast = false)
        val anti = targetSets.map { u =>
          val eq = u.cols.map(c =>
            s"${G}x.${q(c)} = ${G}n.${q(c)}").mkString(" AND ")
          s"EXISTS (SELECT 1 FROM ${tr.name} AS ${G}x WHERE $eq)"
        }.mkString(" OR ")
        val kept = freeze(spark, gsql(spark,
          s"SELECT * FROM ($rel) AS ${G}n WHERE NOT ($anti)"))
        val keptV = s"${G}ins_kept"
        kept.createOrReplaceTempView(keptV)
        Constraints.verifyAppend(spark, cons, keptV, tr.name,
          skipSets = targetSets.map(_.cols.map(_.toLowerCase)).toSet)
        appendRows(spark, tr.name, fields, keptV)
        if (retText.isEmpty) countDf(spark, kept.count()) else returning(keptV)

      case Some((assigns, whText)) =>
        val u = targetSets.head
        val insD = freeze(spark, gsql(spark,
          dedupSql(s"SELECT * FROM $insV", u, 0, keepLast = true)))
        val insDV = s"${G}ins_d"
        insD.createOrReplaceTempView(insDV)
        // bind SET/WHERE: excluded.* -> the batch row; alias-/table-
        // qualified and unqualified target columns -> the existing row
        val tNames = fields.map(_.name)
        def bind(e: String): String = scopeExpr(
          requalify(requalify(e, Seq("excluded"), s"${G}i"),
            Seq(tr.alias, unq(tr.name.split('.').last)), s"${G}t"),
          s"${G}t", tNames, None)
        val wh = if (whText.trim.isEmpty) "true" else bind(whText)
        val assignsByCol = assigns.map(a => a.col.toLowerCase -> a).toMap
        val eq = u.cols.map(c => s"${G}t.${q(c)} = ${G}i.${q(c)}").mkString(" AND ")
        def newValue(f: StructField): String = assignsByCol.get(f.name.toLowerCase) match {
          case Some(a) =>
            val rhs =
              if (a.rhs.trim.equalsIgnoreCase("default")) defaultExpr(f)
              else bind(a.rhs)
            s"CAST(($rhs) AS ${f.dataType.sql})"
          case None => s"${G}t.${q(f.name)}"
        }
        val hit = s"${G}i.${G}rid IS NOT NULL AND ($wh)"
        val updCols = fields.map { f =>
          s"CASE WHEN $hit THEN ${newValue(f)} ELSE ${G}t.${q(f.name)} END AS ${q(f.name)}"
        }
        val freshSql =
          s"""SELECT $colList FROM $insDV AS ${G}i
             |WHERE NOT EXISTS (SELECT 1 FROM ${tr.name} AS ${G}t WHERE $eq)""".stripMargin
        val newSql =
          s"""(SELECT ${updCols.mkString(", ")}, CASE WHEN $hit THEN 1 ELSE 0 END AS ${G}aff
             | FROM ${tr.name} AS ${G}t LEFT JOIN $insDV AS ${G}i ON $eq)
             |UNION ALL (SELECT *, 1 AS ${G}aff FROM ($freshSql))""".stripMargin
        val ret = if (retText.isEmpty) null else returning(
          s"""((SELECT ${fields.map(f => s"${newValue(f)} AS ${q(f.name)}").mkString(", ")}
             | FROM ${tr.name} AS ${G}t JOIN $insDV AS ${G}i ON $eq WHERE ($wh))
             |UNION ALL ($freshSql))""".stripMargin)
        val cnt = commit(spark, tr.name, newSql)
        if (ret != null) ret else countDf(spark, cnt)
    }
  }

  // ------------------------------------------------------------------
  // TRUNCATE
  // ------------------------------------------------------------------

  private def runTruncate(spark: SparkSession, body: String): DataFrame = {
    val after = body.replaceFirst("(?is)^\\s*TRUNCATE\\b(\\s+TABLE\\b)?", "")
    val tr = parseTableRef(after)
    // FOREIGN KEY enforcement: truncating away referenced keys rejects —
    // children of this table (and a self-referencing FK's own rows)
    // verify against the empty result (test_foreignkey.test TRUNCATE)
    locally {
      val empty = spark.table(tr.name).limit(0)
      Constraints.of(spark, tr.name).filter(_.foreignKeys.nonEmpty)
        .foreach(tc => Constraints.verifyContents(spark, tc, empty, tr.name))
      Constraints.verifyParentRewrite(spark, tr.name, empty)
    }
    val cnt = spark.table(tr.name).count() // reference returns removed-row count
    if (isTempView(spark, tr.name))
      spark.table(tr.name).limit(0).localCheckpoint(true)
        .createOrReplaceTempView(unq(tr.name.split('.').last))
    else spark.sql(s"TRUNCATE TABLE ${tr.name}").collect()
    countDf(spark, cnt)
  }

  // ------------------------------------------------------------------
  // MERGE INTO
  // ------------------------------------------------------------------

  private sealed trait MergeAction
  private case class ActUpdate(assigns: Seq[Assign], bare: Boolean,
      byName: Boolean = false) extends MergeAction
  private case object ActDelete extends MergeAction
  private case object ActNothing extends MergeAction
  private case class ActError(msg: Option[String]) extends MergeAction
  private case class ActInsert(cols: Option[Seq[String]], values: Option[Seq[String]],
      byName: Boolean) extends MergeAction

  /** kind: 0 = MATCHED, 1 = NOT MATCHED [BY TARGET], 2 = NOT MATCHED BY SOURCE */
  private case class MergeClause(kind: Int, cond: Option[String], action: MergeAction)

  private val ClauseRe =
    """(?is)^\s*(NOT\s+)?MATCHED\s*(?:BY\s+(SOURCE|TARGET)\b)?\s*(.*)$""".r

  /** First depth-0 THEN not inside a CASE .. END. */
  private def findThen(text: String): Int = {
    val lower = text.toLowerCase
    val (inQ, depth) = scan(text)
    var caseDepth = 0
    var i = 0
    while (i < text.length) {
      if (depth(i) == 0 && !inQ(i)) {
        if (kwAt(lower, inQ, i, "case")) caseDepth += 1
        else if (kwAt(lower, inQ, i, "end") && caseDepth > 0) caseDepth -= 1
        else if (caseDepth == 0 && kwAt(lower, inQ, i, "then")) return i
      }
      i += 1
    }
    -1
  }

  private def parseAction(text0: String, tfields: Seq[StructField]): MergeAction = {
    val text = text0.trim
    val lower = text.toLowerCase
    if (lower.startsWith("do")) ActNothing
    else if (lower.startsWith("delete")) ActDelete
    else if (lower.startsWith("error")) {
      val rest = text.substring(5).trim
      ActError(if (rest.isEmpty) None else Some(rest))
    } else if (lower.startsWith("update")) {
      val rest = text.substring(6).trim
      if (rest.isEmpty || rest.equalsIgnoreCase("set *")) ActUpdate(Nil, bare = true)
      else if (rest.equalsIgnoreCase("by name")) ActUpdate(Nil, bare = true, byName = true)
      else {
        val setText = rest.replaceFirst("(?is)^SET\\b", "")
        ActUpdate(parseAssigns(setText, "", tfields), bare = false)
      }
    } else if (lower.startsWith("insert")) {
      val rest = text.substring(6).trim
      val rl = rest.toLowerCase
      if (rest.isEmpty || rest == "*") ActInsert(None, None, byName = false)
      else if (rl.startsWith("by name")) ActInsert(None, None, byName = true)
      else if (rl.startsWith("default values")) ActInsert(Some(Nil), Some(Nil), byName = false)
      else {
        // [(c1, c2)] VALUES (e1, e2)
        val (cols, afterCols) =
          if (rest.startsWith("(")) {
            val (_, d) = scan(rest)
            var close = 0
            var i = 1
            while (close == 0 && i < rest.length) {
              if (rest.charAt(i) == ')' && d(i) == 0) close = i
              i += 1
            }
            (Some(splitTop(rest.substring(1, close)).map(unq)),
              rest.substring(close + 1).trim)
          } else (None, rest)
        val vl = afterCols.replaceFirst("(?is)^VALUES\\b", "").trim
        if (!vl.startsWith("(") || !vl.endsWith(")"))
          throw new IllegalArgumentException(s"Parser Error: expected VALUES (...) in MERGE INSERT: $text0")
        ActInsert(cols, Some(splitTop(vl.substring(1, vl.length - 1))), byName = false)
      }
    } else throw new IllegalArgumentException(
      s"Parser Error: unknown MERGE action: $text0")
  }

  /** Rewrite bare relation-alias tokens used as row values
    * (`t IS DISTINCT FROM q`) into positional structs of that side's
    * data columns. */
  private def rewriteRowRefs(cond: String, ta: String, tfields: Seq[StructField],
      sa: String, scols: Seq[String]): String = {
    def struct(alias: String, names: Seq[String]): String =
      "named_struct(" + names.zipWithIndex.map { case (c, i) =>
        s"'${G}f$i', ${q(alias)}.${q(c)}"
      }.mkString(", ") + ")"
    val lower = cond.toLowerCase
    val (inQ, _) = scan(cond)
    // a bare alias INSIDE a subquery is that subquery's own relation
    // reference (FROM Buy), never a row value of the outer merge
    val inSub = {
      val arr = new Array[Boolean](cond.length)
      val stack = scala.collection.mutable.ArrayBuffer[Boolean]()
      var i = 0
      while (i < cond.length) {
        val c = cond.charAt(i)
        if (!inQ(i) && c == '(') {
          var k = i + 1
          while (k < cond.length && cond.charAt(k).isWhitespace) k += 1
          stack += (k < cond.length && kwAt(lower, inQ, k, "select"))
        } else if (!inQ(i) && c == ')' && stack.nonEmpty) stack.remove(stack.length - 1)
        arr(i) = stack.contains(true)
        i += 1
      }
      arr
    }
    val sb = new StringBuilder
    var i = 0
    while (i < cond.length) {
      var replaced = false
      for ((alias, names) <- Seq(ta -> tfields.map(_.name), sa -> scols) if !replaced) {
        val al = alias.toLowerCase
        if (!inSub(i) && kwAt(lower, inQ, i, al)) {
          var j = i + al.length
          while (j < cond.length && cond.charAt(j).isWhitespace) j += 1
          val prevNonWs = {
            var p = i - 1
            while (p >= 0 && cond.charAt(p).isWhitespace) p -= 1
            if (p >= 0) cond.charAt(p) else ' '
          }
          if ((j >= cond.length || cond.charAt(j) != '.') && prevNonWs != '.') {
            sb.append(struct(alias, names))
            i += al.length
            replaced = true
          }
        }
      }
      if (!replaced) { sb.append(cond.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Scope a MERGE clause expression: bind unqualified tokens that name
    * a column of the in-scope side to that side's alias (the reference
    * binder's clause scoping — NOT MATCHED [BY TARGET] sees only the
    * source row, NOT MATCHED BY SOURCE only the target row, MATCHED
    * binds target-first), and reject qualified references to the
    * out-of-scope side. Function calls (ident followed by '(') and
    * already-qualified names pass through. */
  private[functions] def scopeExpr(text: String, bindAlias: String, bindCols: Seq[String],
      rejectAlias: Option[String]): String = {
    val lower = text.toLowerCase
    val (qch, _) = scanFull(text)
    val inQ = qch.map(_ != ' ')
    val colSet = bindCols.map(_.toLowerCase).toSet
    // positions inside a (SELECT ...) subquery keep their OWN scope —
    // binding an unqualified inner column to the merge alias would
    // corrupt correlation (merge_into_subquery.test)
    val inSub = {
      val arr = new Array[Boolean](text.length)
      val stack = scala.collection.mutable.ArrayBuffer[Boolean]()
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (!inQ(i) && c == '(') {
          var k = i + 1
          while (k < text.length && text.charAt(k).isWhitespace) k += 1
          stack += (k < text.length && kwAt(lower, inQ, k, "select"))
        } else if (!inQ(i) && c == ')' && stack.nonEmpty) stack.remove(stack.length - 1)
        arr(i) = stack.contains(true)
        i += 1
      }
      arr
    }
    val rej = rejectAlias.map(_.toLowerCase)
    val sb = new StringBuilder
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (qch(i) == '`' && !inSub(i) && c == '`' && text.indexOf('`', i + 1) > 0) {
        // backtick-quoted identifier: one token (`id` = id)
        val end = text.indexOf('`', i + 1)
        val tok = text.substring(i + 1, end).toLowerCase
        var k = end + 1
        while (k < text.length && text.charAt(k).isWhitespace) k += 1
        val nextCh = if (k < text.length) text.charAt(k) else ' '
        var p = i - 1
        while (p >= 0 && text.charAt(p).isWhitespace) p -= 1
        val prevCh = if (p >= 0) text.charAt(p) else ' '
        if (colSet.contains(tok) && nextCh != '.' && nextCh != '(' && prevCh != '.')
          sb.append(q(bindAlias)).append('.').append(text.substring(i, end + 1))
        else sb.append(text.substring(i, end + 1))
        i = end + 1
      } else if (!inQ(i) && !inSub(i) && (c.isLetter || c == '_')) {
        var j = i
        while (j < text.length && isIdent(text.charAt(j))) j += 1
        val tok = lower.substring(i, j)
        var k = j
        while (k < text.length && text.charAt(k).isWhitespace) k += 1
        val nextCh = if (k < text.length) text.charAt(k) else ' '
        var p = i - 1
        while (p >= 0 && text.charAt(p).isWhitespace) p -= 1
        val prevCh = if (p >= 0) text.charAt(p) else ' '
        if (rej.contains(tok) && nextCh == '.' && prevCh != '.')
          throw new IllegalArgumentException(
            s"Binder Error: Referenced column \"${text.substring(i, j)}\" is not in scope for this MERGE clause")
        if (colSet.contains(tok) && nextCh != '.' && nextCh != '(' && prevCh != '.')
          sb.append(q(bindAlias)).append('.').append(q(text.substring(i, j)))
        else sb.append(text.substring(i, j))
        i = j
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def runMerge(spark: SparkSession, cte: String, body: String): DataFrame = {
    val after = body.replaceFirst("(?is)^\\s*MERGE\\s+INTO\\b", "")
    val tr = parseTableRef(after)
    rejectView(spark, tr.name, "merge into")
    val tfields = schemaOf(spark, tr.name)
    val rest = tr.rest
    val lower = rest.toLowerCase
    val (inQ, depth) = scan(rest)
    val (usingIdx, _) = findKw(lower, inQ, depth, 0, Seq("using"))
    if (usingIdx < 0) throw new IllegalArgumentException("Parser Error: MERGE INTO requires USING")
    // source text runs to the next top-level ON / USING / WHEN
    val (specIdx, specKw) = findKw(lower, inQ, depth, usingIdx + 5, Seq("on", "using", "when"))
    if (specIdx < 0) throw new IllegalArgumentException("Parser Error: MERGE INTO requires a join condition")
    val sourceText = rest.substring(usingIdx + 5, specIdx).trim
    var joinOn: String = null
    var joinUsing: String = null
    var whenStart = specIdx
    if (specKw == "on") {
      val (w, _) = findKw(lower, inQ, depth, specIdx + 2, Seq("when"))
      if (w < 0) throw new IllegalArgumentException(
        "Parser Error: MERGE INTO must have at least one WHEN clause")
      joinOn = rest.substring(specIdx + 2, w).trim
      whenStart = w
    } else if (specKw == "using") {
      val (w, _) = findKw(lower, inQ, depth, specIdx + 5, Seq("when"))
      if (w < 0) throw new IllegalArgumentException(
        "Parser Error: MERGE INTO must have at least one WHEN clause")
      joinUsing = rest.substring(specIdx + 5, w).trim.stripPrefix("(").stripSuffix(")").trim
      whenStart = w
    } else throw new IllegalArgumentException(
      "Parser Error: MERGE INTO must have at least one WHEN clause")

    val (retIdx, _) = findKw(lower, inQ, depth, whenStart, Seq("returning"))
    val retText = if (retIdx < 0) "" else rest.substring(retIdx + 9).trim.stripSuffix(";")
    rejectAggregates(retText)
    val whenText = rest.substring(whenStart,
      if (retIdx < 0) rest.length else retIdx)

    // source alias: trailing identifier of the source text (optionally with
    // a column-alias list), else the bare relation name
    val (srcRel, srcAlias) = {
      val t = sourceText.trim
      val m = """(?is)^(.*?)(?:\s+(?:AS\s+)?("[^"]+"|`[^`]+`|[\w$]+)\s*(\([^()]*\))?)?$""".r
        .findFirstMatchIn(t).get
      val relPart = Option(m.group(1)).getOrElse("").trim
      val aliasTok = Option(m.group(2)).map(unq)
      aliasTok match {
        case Some(a) if relPart.nonEmpty && !NonAliasKw.contains(a.toLowerCase) =>
          (t, a)
        case _ =>
          (t, unq(t.split('.').last))
      }
    }

    // the reference allows PARTIAL column-alias lists — alias(a) over a
    // 3-column relation names only the first column; Spark requires the
    // full list, so pad with the base relation's own names
    val srcRelPadded = {
      val m = """(?is)^(.*?)\s+(?:AS\s+)?("[^"]+"|`[^`]+`|[\w$]+)\s*\(([^()]*)\)\s*$""".r
        .findFirstMatchIn(srcRel.trim)
      m match {
        case Some(mm) =>
          val given = splitTop(mm.group(3)).map(unq)
          val baseNames = scala.util.Try(spark.sql(
            cteify(cte, s"SELECT * FROM ${mm.group(1)} LIMIT 0"))
            .schema.fields.map(_.name).toSeq).getOrElse(given)
          if (given.length < baseNames.length)
            s"${mm.group(1)} ${mm.group(2)}(${(given ++ baseNames.drop(given.length)).map(q).mkString(", ")})"
          else srcRel
        case None => srcRel
      }
    }

    // source schema (for positional / by-name INSERT and bare UPDATE)
    val scols: Seq[String] = spark.sql(
      cteify(cte, s"SELECT * FROM $srcRelPadded LIMIT 0")).schema.fields.map(_.name).toSeq

    // parse WHEN clauses
    val clauseTexts = {
      val (inQ2, depth2) = scan(whenText)
      val lower2 = whenText.toLowerCase
      val starts = scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i >= 0 && i < whenText.length) {
        val (j, _) = findKw(lower2, inQ2, depth2, i, Seq("when"))
        if (j < 0) i = -1 else { starts += j; i = j + 4 }
      }
      starts.zipAll(starts.drop(1), 0, whenText.length).map { case (s, e) =>
        whenText.substring(s + 4, e)
      }.toSeq
    }
    if (clauseTexts.isEmpty) throw new IllegalArgumentException(
      "Parser Error: MERGE INTO must have at least one WHEN clause")

    val clauses = clauseTexts.map { ct =>
      val thenIdx = findThen(ct)
      if (thenIdx < 0) throw new IllegalArgumentException(
        s"Parser Error: WHEN clause missing THEN: $ct")
      val head = ct.substring(0, thenIdx)
      val action = parseAction(ct.substring(thenIdx + 4), tfields)
      head match {
        case ClauseRe(not, by, condText0) =>
          val kind =
            if (not == null) 0
            else if (by != null && by.equalsIgnoreCase("source")) 2
            else 1
          val condText = condText0.trim.replaceFirst("(?is)^AND\\b", "").trim
          val tcolNames = tfields.map(_.name)
          // reference clause scoping: NOT MATCHED [BY TARGET] sees only
          // the source row, NOT MATCHED BY SOURCE only the target row,
          // MATCHED binds unqualified names target-first
          def scoped(e: String): String = kind match {
            case 0 => scopeExpr(e, tr.alias, tcolNames, None)
            case 1 => scopeExpr(e, srcAlias, scols, Some(tr.alias))
            case _ => scopeExpr(e, tr.alias, tcolNames, Some(srcAlias))
          }
          val cond = if (condText.isEmpty) None
            else {
              val c0 = scoped(rewriteRowRefs(condText, tr.alias, tfields, srcAlias, scols))
              // an UNCORRELATED subquery condition folds to a constant
              // up front — Spark cannot resolve EXISTS inside the join
              // projection (correlated ones stay and error visibly)
              val c =
                if (hasSubquery(c0))
                  scala.util.Try(gsql(spark, cteify(cte,
                    s"SELECT count(*) FROM (SELECT 1) ${G}probe WHERE ($c0)")).head())
                    .toOption.map(r => if (r.getLong(0) > 0) "true" else "false")
                    .getOrElse(c0)
                else c0
              Some(c)
            }
          val scopedAction = action match {
            case ActUpdate(assigns, bare, byName) =>
              ActUpdate(assigns.map(a => a.copy(rhs = scoped(a.rhs))), bare, byName)
            case ActInsert(cols, Some(values), byName) =>
              ActInsert(cols, Some(values.map(scoped)), byName)
            case ActError(msg) => ActError(msg.map(scoped))
            case other => other
          }
          // action validity per group
          (kind, action) match {
            case (1, _: ActUpdate) | (1, ActDelete) => throw new IllegalArgumentException(
              "Binder Error: UPDATE/DELETE is not supported in WHEN NOT MATCHED BY TARGET")
            case (0, _: ActInsert) | (2, _: ActInsert) => throw new IllegalArgumentException(
              "Binder Error: INSERT is only supported in WHEN NOT MATCHED BY TARGET clauses")
            case _ => ()
          }
          MergeClause(kind, cond, scopedAction)
        case _ => throw new IllegalArgumentException(
          s"Parser Error: cannot parse MERGE WHEN clause: $ct")
      }
    }
    // duplicate-unconditional validation (reference binder diagnostic)
    for (k <- Seq(0, 1, 2)) {
      val uncond = clauses.filter(c => c.kind == k && c.cond.isEmpty)
      if (uncond.length > 1) {
        val label = k match {
          case 0 => "WHEN MATCHED"
          case 1 => "WHEN NOT MATCHED"
          case 2 => "WHEN NOT MATCHED BY SOURCE"
        }
        throw new IllegalArgumentException(
          s"Binder Error: Unconditional $label clause was already defined")
      }
    }

    val ta = q(tr.alias)
    val sa = q(srcAlias)
    val needSourceSide = clauses.exists(_.kind == 1)
    val joinType = if (needSourceSide) "FULL OUTER JOIN" else "LEFT OUTER JOIN"
    val joinSpec =
      if (joinOn != null)
        s"ON (${rewriteRowRefs(joinOn, tr.alias, tfields, srcAlias, scols)})"
      else s"USING (${joinUsing})"

    val targetRel =
      s"(SELECT ${G}w.*, true AS ${G}tm FROM ${gidRelation(spark, tr.name)} AS ${G}w) AS $ta"
    val sourceRel = s"(SELECT *, true AS ${G}sm FROM $srcRelPadded) AS $sa"

    val tm = s"$ta.${G}tm IS NOT NULL"
    val sm = s"$sa.${G}sm IS NOT NULL"
    def guard(c: MergeClause): String = {
      val base = c.kind match {
        case 0 => s"($tm AND $sm)"
        case 1 => s"($ta.${G}tm IS NULL AND $sm)"
        case 2 => s"($tm AND $sa.${G}sm IS NULL)"
      }
      c.cond.map(x => s"($base AND ($x))").getOrElse(base)
    }

    val scolSet = scols.map(_.toLowerCase).toSet
    def insertValue(f: StructField, act: ActInsert): String = act match {
      case ActInsert(Some(Nil), Some(Nil), _) => castTo(defaultExpr(f), f) // DEFAULT VALUES
      case ActInsert(None, None, byName) =>
        if (byName) {
          for (c <- scols if !tfields.exists(_.name.equalsIgnoreCase(c)))
            throw new IllegalArgumentException(
              s"""Binder Error: Column "$c" does not exist in target table! Did you mean "${tfields.map(_.name).minBy(t => math.abs(t.length - c.length))}"?""")
          if (scolSet.contains(f.name.toLowerCase)) castTo(s"$sa.${q(f.name)}", f)
          else castTo(defaultExpr(f), f)
        } else {
          if (scols.length != tfields.length) throw new IllegalArgumentException(
            s"Binder Error: table ${tr.name} has ${tfields.length} columns but ${scols.length} values were supplied")
          val i = tfields.indexWhere(_.name == f.name)
          castTo(s"$sa.${q(scols(i))}", f)
        }
      case ActInsert(colsOpt, Some(values), _) =>
        colsOpt match {
          case None =>
            if (values.length != tfields.length) throw new IllegalArgumentException(
              s"Binder Error: table ${tr.name} has ${tfields.length} columns but ${values.length} values were supplied")
            val i = tfields.indexWhere(_.name == f.name)
            assignValue(values(i), f)
          case Some(cols) =>
            if (values.length != cols.length) throw new IllegalArgumentException(
              s"Binder Error: INSERT has ${cols.length} columns but ${values.length} values were supplied")
            cols.indexWhere(_.equalsIgnoreCase(f.name)) match {
              case -1 => castTo(defaultExpr(f), f)
              case i => assignValue(values(i), f)
            }
        }
      case _ => castTo(defaultExpr(f), f)
    }

    def updateValue(f: StructField, act: ActUpdate): String =
      if (act.bare && act.byName) {
        // UPDATE BY NAME: source columns map by name; an unmatched
        // source column is a binder error (reference suggestion text)
        for (c <- scols if !tfields.exists(_.name.equalsIgnoreCase(c)))
          throw new IllegalArgumentException(
            s"""Binder Error: Column "$c" does not exist in target table! Did you mean "${tfields.map(_.name).minBy(t => math.abs(t.length - c.length))}"?""")
        if (scolSet.contains(f.name.toLowerCase)) castTo(s"$sa.${q(f.name)}", f)
        else s"$ta.${q(f.name)}"
      } else if (act.bare) {
        // bare UPDATE / UPDATE SET * are POSITIONAL, like bare INSERT
        // (merge_into_update_star.test)
        if (scols.length != tfields.length) throw new IllegalArgumentException(
          s"Binder Error: source column count (${scols.length}) does not match column count of table ${tr.name} (${tfields.length})")
        val i = tfields.indexWhere(_.name == f.name)
        castTo(s"$sa.${q(scols(i))}", f)
      } else act.assigns.find(_.col.equalsIgnoreCase(f.name)) match {
        case Some(a) => assignValue(a.rhs, f)
        case None => s"$ta.${q(f.name)}"
      }

    // one projection over the join computes everything
    // every clause participates, first-match order: a DELETE-matched
    // row keeps its OLD values (RETURNING shows them) even when a later
    // UPDATE clause's guard would also hold
    val colExprs = tfields.map { f =>
      val arms = clauses.map { c =>
        val v = c.action match {
          case u: ActUpdate => updateValue(f, u)
          case ins: ActInsert => insertValue(f, ins)
          case _ => s"$ta.${q(f.name)}"
        }
        s"WHEN ${guard(c)} THEN $v"
      }
      if (arms.isEmpty) s"$ta.${q(f.name)} AS ${q(f.name)}"
      else s"CASE ${arms.mkString(" ")} ELSE $ta.${q(f.name)} END AS ${q(f.name)}"
    }
    def flagCase(value: MergeClause => Option[String], els: String, name: String): String = {
      val arms = clauses.flatMap(c => value(c).map(v => s"WHEN ${guard(c)} THEN $v"))
      if (arms.isEmpty) s"$els AS $name"
      else s"CASE ${arms.mkString(" ")} ELSE $els END AS $name"
    }
    val keepExpr = flagCase(c => Some(c.action match {
      case ActDelete => "false"
      case _: ActInsert => "true"
      case _ => "true"
    }), els = s"$ta.${G}tm IS NOT NULL", name = s"${G}keep")
    val cntExpr = flagCase(c => Some(c.action match {
      case _: ActUpdate | ActDelete | _: ActInsert => "1"
      case _ => "0"
    }), els = "0", name = s"${G}cnt")
    val actedExpr = flagCase(c => Some(c.action match {
      case _: ActUpdate | ActDelete => "1"
      case _ => "0"
    }), els = "0", name = s"${G}acted")
    val actIdx = clauses.zipWithIndex.map { case (c, i) =>
      s"WHEN ${guard(c)} THEN $i"
    }
    val actExpr = s"CASE ${actIdx.mkString(" ")} ELSE -1 END AS ${G}act"
    // every clause participates in the CASE (first-match-wins order):
    // a non-error clause that applies SHIELDS later ERROR clauses
    val errArms = clauses.map { c =>
      val v = c.action match {
        case ActError(msg) =>
          msg.map(e => s"CAST(($e) AS STRING)").getOrElse(s"'Merge error on row'")
        case _ => "CAST(NULL AS STRING)"
      }
      s"WHEN ${guard(c)} THEN $v"
    }
    val errExpr =
      if (!clauses.exists(_.action.isInstanceOf[ActError]))
        s"CAST(NULL AS STRING) AS ${G}err"
      else s"CASE ${errArms.mkString(" ")} ELSE CAST(NULL AS STRING) END AS ${G}err"

    val joined =
      s"""SELECT ${colExprs.mkString(", ")}, $keepExpr, $cntExpr, $actedExpr,
         |       $actExpr, $errExpr, $ta.${G}gid AS ${G}gid
         |FROM $targetRel $joinType $sourceRel $joinSpec""".stripMargin

    // nact: MATCHED actions per target row (commit's cardinality check)
    val ourCtes =
      s"""${G}j AS ($joined),
         |${G}tg AS (
         |  SELECT *, row_number() OVER (PARTITION BY ${G}gid
         |            ORDER BY ${G}acted DESC, ${G}act) AS ${G}rn,
         |         sum(${G}acted) OVER (PARTITION BY ${G}gid) AS ${G}nact
         |  FROM ${G}j WHERE ${G}gid IS NOT NULL),
         |${G}fin AS (
         |  SELECT * FROM (SELECT ${tfields.map(f => q(f.name)).mkString(", ")},
         |         ${G}keep, ${G}cnt, ${G}nact FROM ${G}tg WHERE ${G}rn = 1)
         |  UNION ALL
         |  SELECT ${tfields.map(f => q(f.name)).mkString(", ")},
         |         ${G}keep, ${G}cnt, 0 FROM ${G}j WHERE ${G}gid IS NULL AND ${G}cnt = 1)""".stripMargin
    val pfx = mergeCte(cte, ourCtes)

    // per-row ERROR actions fire first (reference: abort before any write)
    if (clauses.exists(_.action.isInstanceOf[ActError])) {
      val err = gsql(spark, s"$pfx SELECT ${G}err FROM ${G}j WHERE ${G}err IS NOT NULL LIMIT 1")
        .collect()
      if (err.nonEmpty) throw new RuntimeException("Merge error: " + err.head.getString(0))
    }
    val newSql = s"""$pfx SELECT ${tfields.map(f => q(f.name)).mkString(", ")},
                    |  ${G}cnt AS ${G}aff, ${G}keep, ${G}nact FROM ${G}fin""".stripMargin
    // RETURNING: one row per affected row with the merge_action pseudo-
    // column — new values for INSERT/UPDATE, old values for DELETE
    // (first-match colExprs above guarantee that)
    val ret =
      if (retText.isEmpty) null
      else {
        val actionName = clauses.zipWithIndex.map { case (c, i) =>
          val n = c.action match {
            case _: ActUpdate => "'UPDATE'"
            case ActDelete => "'DELETE'"
            case _: ActInsert => "'INSERT'"
            case _ => "NULL"
          }
          s"WHEN $i THEN $n"
        }
        val colList = tfields.map(f => q(f.name)).mkString(", ")
        val retExprs = splitTop(retText).map { e =>
          if (e.trim == "*") colList else e
        }.mkString(", ")
        val affected =
          s"""SELECT $colList,
             |       CASE ${G}act ${actionName.mkString(" ")} ELSE NULL END AS merge_action
             |FROM (SELECT * FROM ${G}tg WHERE ${G}rn = 1 AND ${G}cnt = 1
             |      UNION ALL
             |      SELECT *, 0 AS ${G}rn, 0 AS ${G}nact FROM ${G}j
             |      WHERE ${G}gid IS NULL AND ${G}cnt = 1)""".stripMargin
        freeze(spark, gsql(spark,
          s"$pfx SELECT $retExprs FROM ($affected) AS ${q(tr.alias)}"))
      }
    val cnt = commit(spark, tr.name, newSql)
    if (ret != null) ret else countDf(spark, cnt)
  }
}
