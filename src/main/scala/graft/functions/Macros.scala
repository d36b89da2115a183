package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CREATE MACRO — the reference's scalar SQL macros
  * (`/root/reference/src/function/macro_function.cpp`): a named expression
  * template inlined at bind time.
  *
  * Two Spark-first realizations:
  *
  *  - [[create]] parses the reference's `CREATE [OR REPLACE] MACRO
  *    name(p, …) AS body` DDL and registers a NATIVE Spark SQL function
  *    (`CREATE OR REPLACE TEMPORARY FUNCTION name(p, …) RETURN body`,
  *    Spark 4 SQL UDFs). The function then works in any `spark.sql` text
  *    and — exactly like the reference — is inlined into the plan at
  *    analysis time, so it codegens like the raw expression (no UDF
  *    call overhead).
  *
  *  - [[expand]]/[[expandAll]] are the bind-time textual inliner for
  *    callers that want macro expansion without touching the session
  *    catalog: quote-aware balanced-paren argument parsing, capture-free
  *    two-phase parameter substitution, recursive expansion of nested
  *    macro calls, arity/overload/default binding checked like the
  *    reference's bind errors.
  *
  * Reference semantics mirrored here (macro_function.cpp,
  * table_macro_function.cpp):
  *  - overloads: `CREATE MACRO f() AS 0, (a) AS a, (a, b) AS a + b`
  *    dispatches on the supplied argument count
  *  - `p := default` parameters: positional args fill parameters in
  *    declaration order, named `p := v` args bind the rest, defaults
  *    fill what remains; duplicate/unbindable argument lists raise
  *  - defaults must be constant expressions (no parameter or column
  *    references)
  *  - scalar and TABLE macros live in SEPARATE namespaces; calls
  *    dispatch by syntactic position (`FROM`/`JOIN` → table namespace),
  *    and `DROP MACRO` removes the scalar entry first, the table entry
  *    only if no scalar exists
  */
object Macros {

  /** One overload signature: raw parameter specs + body text. */
  private type Sig = (Seq[String], String)

  // `CREATE FUNCTION` is the reference's documented alias for
  // `CREATE MACRO` (test_simple_macro.test)
  // name may be schema-qualified (CREATE SCHEMA macros; CREATE MACRO
  // macros.add_macro(…) — test_simple_macro.test); the qualified text is
  // the registry key and the call-site spelling
  private val Head =
    """(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?(?:MACRO|FUNCTION)\s+`?(\w+(?:\.\w+)?)`?\s*\(""".r

  private val DefaultRe = """(?s)^\s*(\w+)\s*:=\s*(.*)$""".r

  private def paramName(p: String): String = p.trim match {
    case DefaultRe(n, _) => n
    case other => other.split("\\s+")(0)
  }

  private val ConstKeywords = Set("null", "true", "false", "interval",
    "date", "timestamp", "time", "case", "when", "then", "else", "end",
    "and", "or", "not", "cast", "as", "in", "array", "map", "struct",
    "row", "div")

  /** Parse `CREATE MACRO name(p…) AS body [, (p…) AS body]…` with a
    * balanced, quote-aware scan (a regex `[^)]*` would break on
    * parenthesized types like `DECIMAL(10,2)`). Returns every overload
    * signature in declaration order.
    */
  private def parseDdl(ddl: String): (String, Seq[Sig]) = {
    val m = Head.findPrefixMatchOf(ddl).getOrElse(
      throw new IllegalArgumentException(s"not a CREATE MACRO statement: $ddl"))
    val name = m.group(1)
    // system catalogs are read-only (information_schema_macro.test)
    val schema = name.split('.').dropRight(1).headOption.map(_.toLowerCase)
    if (schema.exists(Set("information_schema", "pg_catalog", "system")))
      throw new IllegalArgumentException(
        s"Binder Error: Cannot create entry in system catalog schema ${schema.get}")
    val sigs = scala.collection.mutable.ArrayBuffer[Sig]()
    val t = SqlText(ddl)
    var open = m.end - 1
    var done = false
    while (!done) {
      val (params, afterParams) = t.argsAt(open)
      val asM = """(?is)^\s*AS\s+""".r.findPrefixMatchOf(ddl.substring(afterParams))
        .getOrElse(throw new IllegalArgumentException(
          s"not a CREATE MACRO statement: $ddl"))
      val bodyStart = afterParams + asM.end
      // TABLE bodies never overload-split (their SELECT lists contain
      // top-level commas); scalar bodies end at a top-level `,` that is
      // followed by another `(params) AS` signature
      val isTable = """(?is)^TABLE\b""".r
        .findPrefixMatchOf(ddl.substring(bodyStart)).isDefined
      val asPat = if (isTable) """(?is)^\s*AS\s+TABLE\b""".r
                  else """(?is)^\s*AS\s""".r
      val bodyDepth = if (bodyStart < ddl.length) t.depth(bodyStart) else 0
      var i = bodyStart
      var bodyEnd = -1
      var nextSig = -1
      while (i < ddl.length && bodyEnd < 0) {
        if (ddl.charAt(i) == ',' && t.code(i) && t.depth(i) == bodyDepth) {
          // overload separator iff the remainder is `(args) AS …`
          // (for TABLE macros: `(args) AS TABLE …`, so a top-level
          // `SELECT a, (b) AS c` list comma can never false-split)
          """(?s)^\s*\(""".r.findPrefixMatchOf(ddl.substring(i + 1)).foreach { pm =>
            val openAt = i + pm.end
            val close = t.close(openAt)
            if (close < ddl.length &&
                asPat.findPrefixMatchOf(ddl.substring(close + 1)).isDefined) {
              bodyEnd = i
              nextSig = openAt
            }
          }
        }
        i += 1
      }
      val body =
        (if (bodyEnd < 0) ddl.substring(bodyStart) else ddl.substring(bodyStart, bodyEnd))
          .trim.stripSuffix(";").trim
      // a bare star body can never bind as a scalar expression — the
      // reference rejects it at CREATE (test_simple_macro.test)
      if (body == "*" || body.matches("(?s)\\w+\\.\\*"))
        throw new IllegalArgumentException(
          s"macro $name: star expressions are not supported in macro bodies")
      validateDefaults(name, params)
      sigs += ((params, body))
      if (bodyEnd < 0) done = true else open = nextSig
    }
    // two overloads with the same shape can never be told apart at a
    // call site (test_macro_overloads.test "Ambiguity in macro
    // overloads")
    val shapes = sigs.map { case (ps, _) =>
      (ps.length, ps.count(p => DefaultRe.findFirstMatchIn(p.trim).isDefined)) }
    if (shapes.distinct.length != shapes.length)
      throw new IllegalArgumentException(
        s"macro $name: Ambiguity in macro overloads")
    (name, sigs.toSeq)
  }

  /** `p := default` must be a CONSTANT expression (macro_function.cpp):
    * no references to other parameters or columns. Parameter names must
    * be plain identifiers, declared at most once (test_simple_macro.test
    * `conflict(i, i)` / `my_macro(a.b)`). */
  private def validateDefaults(name: String, params: Seq[String]): Unit = {
    val names = params.map(p => paramName(p).toLowerCase)
    names.foreach { n =>
      if (!n.matches("\\w+"))
        throw new IllegalArgumentException(
          s"macro $name: syntax error in parameter name $n")
    }
    if (names.distinct.length != names.length)
      throw new IllegalArgumentException(
        s"macro $name: duplicate parameter names")
    // declaration order: positional parameters first, then defaults
    // (test_simple_macro.test wrong_order — the reference's bind error)
    val firstDefault = params.indexWhere(p =>
      DefaultRe.findFirstMatchIn(p.trim).isDefined)
    if (firstDefault >= 0 && params.drop(firstDefault).exists(p =>
          DefaultRe.findFirstMatchIn(p.trim).isEmpty))
      throw new IllegalArgumentException(
        s"macro $name: positional parameters cannot come after parameters " +
          "with a default value")
    params.foreach {
      case DefaultRe(n, d) =>
        val noquotes = d.replaceAll("'[^']*'", " ")
        val ids = """\b([A-Za-z_]\w*)\b""".r.findAllMatchIn(noquotes).filter { mm =>
          // an identifier followed by '(' is a function call — constant-ok
          val after = noquotes.drop(mm.end).dropWhile(_.isWhitespace)
          !(after.startsWith("(") || ConstKeywords.contains(mm.group(1).toLowerCase))
        }.map(_.group(1).toLowerCase).toSeq
        val badParam = ids.find(x => x != n.toLowerCase && names.contains(x))
        if (badParam.isDefined)
          throw new IllegalArgumentException(
            s"macro $name: default for $n references parameter ${badParam.get}")
        val nonConst = ids.find(x => x != n.toLowerCase)
        if (nonConst.isDefined)
          throw new IllegalArgumentException(
            s"macro $name: default for $n must be a constant expression " +
              s"(references ${nonConst.get})")
      case _ =>
    }
  }

  /** Register the macro as a native Spark SQL temporary function (first
    * overload only — Spark SQL UDFs don't overload). DuckDB macros are
    * untyped; Spark SQL UDF parameters carry a type, so arguments bind
    * as DOUBLE by default or `name TYPE` when the DDL says so.
    */
  def create(spark: SparkSession, ddl: String): Unit = {
    val (name, sigs) = parseDdl(ddl)
    val (params, body) = sigs.head
    val typed = params.map(p => if (p.contains(" ")) p else s"$p DOUBLE")
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY FUNCTION $name(${typed.mkString(", ")}) RETURN $body")
    registry.get(spark).put(name.toLowerCase, sigs)
  }

  /** Parse + remember the macro for [[expand]] without registering a
    * session function (pure template). Parameter specs are kept raw so
    * `p := default` defaults survive to bind time.
    */
  def define(spark: SparkSession, ddl: String): Unit = {
    val (name, sigs) = parseDdl(ddl)
    guardAlreadyExists(spark, ddl, name, registry.get(spark))
    guardSelfDependency(spark, ddl, name, sigs)
    // the reference binds the macro body at CREATE time: a parameter
    // name that collides with a column of a table referenced in the
    // body is ambiguous there ("Conflicting column names for column x!",
    // test_subquery_macro.test). Mirror with a catalog probe of the
    // FROM/JOIN names; unknown tables are skipped (they bind lazily).
    sigs.foreach { case (params, body) =>
      checkBodyBinds(spark, params.map(p => paramName(p).toLowerCase).toSet, body)
      val pnames = params.map(p => paramName(p).toLowerCase).toSet
      if (pnames.nonEmpty) {
        val tableRefs = """(?i)\b(?:FROM|JOIN)\s+`?([A-Za-z_]\w*)`?""".r
          .findAllMatchIn(body.replaceAll("'[^']*'", " "))
          .map(_.group(1)).filterNot(t =>
            Set("values", "select", "unnest", "range", "generate_series",
              "lateral").contains(t.toLowerCase)).toSet
        tableRefs.foreach { t =>
          val cols =
            try spark.table(t).schema.fieldNames.map(_.toLowerCase).toSet
            catch { case _: Throwable => Set.empty[String] }
          val conflict = pnames.intersect(cols)
          if (conflict.nonEmpty)
            throw new IllegalArgumentException(
              s"Conflicting column names for column ${conflict.head}!")
        }
      }
    }
    registry.get(spark).put(name.toLowerCase, sigs)
  }

  // pure window functions — the reference rejects these in macro bodies
  // outright at CREATE ("Binder Error: Window functions are not supported
  // here", test_window_macro.test); aggregate functions are fine (they
  // become window aggregates when the CALL SITE carries OVER)
  private val WindowOnlyFns = Set("lag", "lead", "row_number", "rank",
    "dense_rank", "ntile", "percent_rank", "cume_dist")

  /** The reference binds scalar macro bodies at CREATE
    * (macro_function.cpp BindMacroFunction): a free identifier that is
    * neither a declared parameter nor a lambda variable is a binder
    * error there, as is a window function anywhere in the body. Subquery
    * interiors are exempt — their identifiers bind against their own
    * FROM (and correlate at expansion time). Bodies Spark's expression
    * parser cannot parse (macro-only syntax) skip the check and bind
    * lazily at expansion, like before. */
  private def checkBodyBinds(spark: SparkSession, params: Set[String],
      body: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, UnresolvedNamedLambdaVariable}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(body)
      catch { case _: Throwable => return }
    def walk(e: Expression, bound: Set[String]): Unit = e match {
      case f: UnresolvedFunction =>
        if (WindowOnlyFns.contains(f.nameParts.last.toLowerCase))
          throw new IllegalArgumentException(
            "Binder Error: Window functions are not supported here")
        f.children.foreach(walk(_, bound))
      case l: LambdaFunction =>
        val vars = l.arguments.collect {
          case v: UnresolvedNamedLambdaVariable => v.nameParts.head.toLowerCase
        }.toSet
        walk(l.function, bound ++ vars)
      case a: UnresolvedAttribute =>
        val head = a.nameParts.head.toLowerCase
        if (!bound.contains(head))
          throw new IllegalArgumentException(
            s"""Binder Error: Referenced column "${a.nameParts.head}" not found!""")
      case other =>
        // SubqueryExpression stores its plan outside `children`, so
        // subquery interiors are skipped by construction here
        other.children.foreach(walk(_, bound))
    }
    walk(parsed, params)
  }

  /** Bind call arguments to one signature's parameters the reference's
    * way (macro_function.cpp BindMacroFunction): positional args fill
    * parameters in declaration order, `p := v` named args bind by name,
    * unbound parameters take their declared `:=` defaults; too many /
    * missing-without-default / doubly-bound raise the bind error. */
  private def bindArgs(name: String, params: Seq[String],
      args: Seq[String]): Seq[String] = {
    val names = params.map(paramName)
    val defaults: Map[String, String] = params.flatMap { p =>
      p.trim match {
        case DefaultRe(n, d) => Some(n.toLowerCase -> d.trim)
        case _ => None
      }
    }.toMap
    val named = scala.collection.mutable.Map[String, String]()
    val pos = scala.collection.mutable.ArrayBuffer[String]()
    args.foreach { a =>
      a.trim match {
        case DefaultRe(n, v) if names.exists(_.equalsIgnoreCase(n)) =>
          if (named.contains(n.toLowerCase))
            throw new IllegalArgumentException(
              s"macro $name: duplicate named argument $n")
          named(n.toLowerCase) = v.trim
        case DefaultRe(n, _) =>
          // named-arg syntax targeting a parameter this signature does
          // not declare — this overload cannot bind
          throw new IllegalArgumentException(
            s"macro $name: unknown named argument $n")
        case _ =>
          // the reference rejects positional args after a named arg
          // (BindMacroFunction: "Positional parameters cannot come
          // after parameters with a default value",
          // test_table_macro_args.test)
          if (named.nonEmpty)
            throw new IllegalArgumentException(
              s"macro $name: positional parameters cannot come after " +
                "named parameters")
          pos += a
      }
    }
    if (pos.length > params.length)
      throw new IllegalArgumentException(
        s"macro $name expects at most ${params.length} arguments, " +
          s"got ${args.length}")
    // positional args bind the FIRST pos.length parameters in
    // declaration order; a named arg that re-targets one of those is a
    // duplicate binding (the reference's bind error)
    val bound = names.zipWithIndex.map { case (n, i) =>
      if (i < pos.length) {
        if (named.contains(n.toLowerCase))
          throw new IllegalArgumentException(
            s"macro $name: parameter $n bound both positionally and by name")
        pos(i)
      } else named.getOrElse(n.toLowerCase,
        defaults.getOrElse(n.toLowerCase,
          throw new IllegalArgumentException(
            s"macro $name: no argument or default for parameter $n")))
    }
    bound
  }

  /** Pick the overload the argument list binds against — duck's
    * dispatch is by argument count, and MORE THAN ONE binding overload
    * is the reference's ambiguity error. */
  private def bindOverload(name: String, sigs: Seq[Sig],
      args: Seq[String]): (Sig, Seq[String]) = {
    var lastErr: IllegalArgumentException = null
    val matches = sigs.flatMap { sig =>
      try Some((sig, bindArgs(name, sig._1, args)))
      catch { case e: IllegalArgumentException => lastErr = e; None }
    }
    matches match {
      case Seq(one) => one
      case Seq() =>
        throw new IllegalArgumentException(
          s"macro $name does not support the supplied arguments" +
            (if (lastErr != null) s" (${lastErr.getMessage})" else ""))
      case _ =>
        throw new IllegalArgumentException(
          s"macro $name: multiple overloads that match the supplied arguments")
    }
  }

  private val registry = SessionScoped(
    () => new java.util.concurrent.ConcurrentHashMap[String, Seq[Sig]])

  private val tableRegistry = SessionScoped(
    () => new java.util.concurrent.ConcurrentHashMap[String, Seq[Sig]])

  private val OrReplaceRe = """(?is)\s*CREATE\s+OR\s+REPLACE\b.*""".r

  /** The reference's catalog uniqueness: a plain `CREATE MACRO` over an
    * existing name is an error — overloads must be declared in ONE
    * statement, and redefinition needs `OR REPLACE`
    * (test_simple_macro.test "already exists"). Checked per namespace
    * (scalar vs TABLE macros coexist by name). */
  private def guardAlreadyExists(spark: SparkSession, ddl: String,
      name: String, ns: java.util.Map[String, Seq[Sig]]): Unit = {
    if (!OrReplaceRe.matches(ddl) && ns.containsKey(name.toLowerCase))
      throw new IllegalArgumentException(
        s"Catalog Error: Macro Function with name $name already exists!")
  }

  /** Reference dependency tracking (enable_macro_dependencies=true,
    * test_recursive_macro.test): `CREATE OR REPLACE MACRO x` may not
    * (transitively) call x through macros already in either namespace —
    * the replace would create a cycle the binder can never resolve.
    * Reachability runs over the RAW bodies (names referenced as `n(` at
    * an identifier boundary, quotes and `.`-qualified calls excluded).
    */
  private def guardSelfDependency(spark: SparkSession, ddl: String,
      name: String, sigs: Seq[Sig]): Unit = {
    if (!OrReplaceRe.matches(ddl)) return
    if (!spark.conf.get("enable_macro_dependencies", "false")
          .equalsIgnoreCase("true")) return
    val sc = registry.get(spark)
    val tb = tableRegistry.get(spark)
    val known = {
      val s = scala.collection.mutable.Set[String]()
      sc.forEach((k, _) => s += k); tb.forEach((k, _) => s += k); s
    }
    def refs(body: String): Set[String] = {
      val masked = body.replaceAll("'[^']*'", " ").toLowerCase
      known.filter { n =>
        var i = masked.indexOf(n + "(")
        var found = false
        while (i >= 0 && !found) {
          val ok = i == 0 || {
            val p = masked.charAt(i - 1)
            !Character.isLetterOrDigit(p) && p != '_' && p != '.'
          }
          if (ok) found = true else i = masked.indexOf(n + "(", i + 1)
        }
        found
      }.toSet
    }
    var seen = Set.empty[String]
    var frontier = sigs.map(_._2).flatMap(b => refs(b)).toSet - name.toLowerCase
    while (frontier.nonEmpty) {
      seen ++= frontier
      val next = frontier.flatMap { n =>
        (Option(sc.get(n)).toSeq ++ Option(tb.get(n)).toSeq)
          .flatten.map(_._2).flatMap(b => refs(b))
      }
      if (next.contains(name.toLowerCase))
        throw new IllegalArgumentException(
          "Catalog Error: CREATE OR REPLACE is not allowed to depend on itself")
      frontier = next -- seen
    }
  }

  /** `CREATE MACRO name(params) AS TABLE <query>` — the reference's TABLE
    * macros (`/root/reference/src/function/table_macro_function.cpp`): a
    * parameterized view, inlined at bind time, living in its OWN
    * namespace (a scalar macro of the same name can coexist).
    */
  def createTable(spark: SparkSession, ddl: String): Unit = {
    val (name, sigs) = parseDdl(ddl)
    guardAlreadyExists(spark, ddl, name, tableRegistry.get(spark))
    guardSelfDependency(spark, ddl, name, sigs)
    val t = """(?is)^TABLE\s+(.+)$""".r
    val qsigs = sigs.map { case (params, body) =>
      body match {
        case t(query) => (params, query)
        case _ =>
          throw new IllegalArgumentException(s"not a TABLE macro: $ddl")
      }
    }
    // the reference binds table-macro bodies at CREATE: a FROM relation
    // that exists in no catalog is an immediate Catalog Error
    // (test_table_macro_args.test card_no_tbl). Bodies Spark cannot
    // parse (macro-only syntax) bind lazily, like scalar macros.
    qsigs.foreach { case (_, query) =>
      val plan =
        try spark.sessionState.sqlParser.parsePlan(query)
        catch { case _: Throwable => null }
      if (plan != null) {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
        import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
        val ctes = plan.collect { case w: UnresolvedWith =>
          w.cteRelations.map(_._1.toLowerCase) }.flatten.toSet
        plan.foreach {
          case r: UnresolvedRelation if r.multipartIdentifier.length == 1 =>
            val t = r.multipartIdentifier.head
            val known = ctes.contains(t.toLowerCase) ||
              tableRegistry.get(spark).containsKey(t.toLowerCase) ||
              (try spark.catalog.tableExists(t) catch { case _: Throwable => true })
            if (!known)
              throw new IllegalArgumentException(
                s"Catalog Error: Table with name $t does not exist!")
          case _ =>
        }
      }
    }
    tableRegistry.get(spark).put(name.toLowerCase, qsigs)
  }

  /** Expand a table-macro call `name(arg, …)` to its DataFrame. */
  def callTable(spark: SparkSession, call: String): DataFrame = {
    val m = """(?s)\s*(\w+)\s*\(""".r.findPrefixMatchOf(call).getOrElse(
      throw new IllegalArgumentException(s"not a macro call: $call"))
    val name = m.group(1).toLowerCase
    val (args, _) = SqlText(call).argsAt(m.end - 1)
    val sigs = Option(tableRegistry.get(spark).get(name)).getOrElse(
      throw new IllegalArgumentException(s"unknown table macro: $name"))
    val (sig, bound) = bindOverload(name, sigs, args)
    spark.sql(expand(spark,
      substitute(sig._2, sig._1.map(paramName), bound)))
  }

  /** Inline every known SCALAR macro call in `sql` (recursively, so
    * macros can call macros), exactly the reference's bind-time
    * expansion. Calls inside string literals are left alone; arity
    * mismatches raise like the reference's bind error.
    */
  def expand(spark: SparkSession, sql: String, maxDepth: Int = 16): String =
    expandLoop(sql, registry.get(spark), null, maxDepth)

  /** Expand scalar AND table macros textually, dispatching by syntactic
    * position like the reference binder: a call directly after
    * `FROM`/`JOIN` resolves in the TABLE-macro namespace (inlined as a
    * parenthesized derived table), anywhere else in the scalar
    * namespace. The SQL-text entry point for runners that feed whole
    * statements (graft.SqlLogicSpec). */
  def expandAll(spark: SparkSession, sql: String, maxDepth: Int = 16): String =
    // SampleRewrite runs AFTER macro expansion so sampling clauses
    // produced by macro bodies are lowered too (r11 ADVICE)
    WindowRelocate(QualifyRewrite(WindowRefs(rewriteDistinctOn(rewriteStarExclude(stripBuiltinCatalog(
      FnChain(spark, SampleRewrite(Variables.rewrite(spark, expandLoop(
        Sequences.rewriteDuckdbSequences(spark,
          rewriteDuckdbCatalog(spark,
            rewriteDuckdbDatabases(spark, rewriteDuckdbFunctions(spark,
              rewriteDescribeSubqueries(spark,
                FileTables.rewrite(spark, Timezone.rewriteSettings(spark,
                  Timezone.rewriteAtTimeZone(PgCatalog.rewrite(spark,
                    rewriteOrdinality(sql)))))))))),
        registry.get(spark), tableRegistry.get(spark), maxDepth))))))))))

  /** `duckdb_functions()` — the reference's function-catalog TVF,
    * inlined as a VALUES relation over the LIVE macro registries (one
    * row per overload; builtin functions are out of scope — the corpus
    * queries filter on macro rows). */
  /** `duckdb_databases()` — attached-catalog TVF, inlined as a VALUES
    * relation over the live Spark catalog (graft.functions.Attach). */
  private def rewriteDuckdbDatabases(spark: SparkSession, sql: String): String = {
    lazy val rel = Attach.databasesRelation(spark)
    SqlText.replaceUnquoted(sql, """(?i)\bduckdb_databases\s*\(\s*\)""".r)(_ => rel)
  }

  /** `tvf(args) WITH ORDINALITY [AS t(c, o)]` (reference
    * test/sql/ordinality/): lowered onto posexplode/row_number — the
    * ordinality column is BIGINT and 1-based like the reference. Alias
    * columns fill left-to-right; unnamed columns keep the reference's
    * defaults (the function name, then "ordinality"). */
  private def rewriteOrdinality(sql: String): String = {
    if (!"""(?i)\bWITH\s+ORDINALITY\b""".r.findFirstIn(sql).isDefined) return sql
    // the optional alias must not swallow a trailing clause keyword
    // (`… WITH ORDINALITY WHERE …` — r13 ADVICE)
    val kwStop = """(?!(?:WHERE|GROUP|ORDER|HAVING|LIMIT|UNION|INTERSECT|EXCEPT|JOIN|ON|USING|CROSS|LEFT|RIGHT|INNER|FULL|OUTER|SEMI|ANTI|NATURAL|LATERAL|QUALIFY|WINDOW|OFFSET|FETCH|WITH)\b)"""
    val Re = ("""(?i)\b(range|generate_series|repeat|unnest|explode)\s*\(((?:[^()]|\([^()]*\))*)\)\s+WITH\s+ORDINALITY""" +
      s"""(?:\\s+(?:AS\\s+)?$kwStop(\\w+)\\s*(?:\\(([^)]*)\\))?)?""").r
    SqlText.replaceUnquoted(sql, Re) { m =>
      val fname = m.group(1).toLowerCase
      val args = m.group(2)
      val tbl = Option(m.group(3)).getOrElse("_ord")
      val names = Option(m.group(4)).map(_.split(',').map(_.trim).toSeq)
        .getOrElse(Nil)
      val defaultC1 = if (fname == "explode") "unnest" else fname
      val c1 = names.headOption.filter(_.nonEmpty).getOrElse(defaultC1)
      val c2 = names.drop(1).headOption.filter(_.nonEmpty).getOrElse("ordinality")
      val g = Dml.G
      val parts = SqlText.splitTop(args)
      def big(e: String) = s"CAST(($e) AS BIGINT)"
      val empty = "CAST(array() AS ARRAY<BIGINT>)"
      // sequence-based array (not the range() TVF) so LATERAL-correlated
      // arguments work (ordinality_inout.test); duckdb range() is
      // end-EXCLUSIVE, generate_series end-INCLUSIVE
      val arr = fname match {
        case "range" => parts match {
          case Seq(n) =>
            s"CASE WHEN ${big(n)} > 0 THEN sequence(0, ${big(n)} - 1) ELSE $empty END"
          case Seq(a, b) =>
            s"CASE WHEN ${big(b)} > ${big(a)} THEN sequence(${big(a)}, ${big(b)} - 1) ELSE $empty END"
          case Seq(a, b, st) =>
            s"CASE WHEN (${big(st)} > 0 AND ${big(b)} > ${big(a)}) OR (${big(st)} < 0 AND ${big(b)} < ${big(a)}) " +
              s"THEN sequence(${big(a)}, ${big(b)} - (CASE WHEN ${big(st)} < 0 THEN -1 ELSE 1 END), ${big(st)}) " +
              s"ELSE $empty END"
          case _ => s"sequence($args)"
        }
        case "generate_series" => parts match {
          case Seq(n) => s"sequence(0, ${big(n)})"
          case _ => s"sequence($args)"
        }
        case "unnest" | "explode" => args // already an array expression
        case _ => // repeat(value, count) — malformed arity surfaces as a
          // binder error downstream, not an exception during rewrite
          if (parts.length < 2)
            throw new IllegalArgumentException(
              "Binder Error: repeat(value, count) with ORDINALITY requires two arguments")
          s"array_repeat(${parts.head}, CAST((${parts(1)}) AS INT))"
      }
      val inner =
        s"SELECT ${g}c AS `$c1`, CAST(${g}p + 1 AS BIGINT) AS `$c2` " +
          s"FROM (SELECT posexplode($arr) AS (${g}p, ${g}c))"
      s"($inner) $tbl"
    }
  }

  /** `(DESCRIBE ...)`, `(SUMMARIZE ...)`, `(SHOW ...)` in FROM position
    * (describe_subquery.test): execute the statement eagerly into a temp
    * view and substitute its name — the reference binds these as
    * relations the same way. */
  private val descSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def rewriteDescribeSubqueries(spark: SparkSession, sql: String): String = {
    val HeadRe = """(?i)\(\s*(DESCRIBE|SUMMARIZE|SHOW)\b""".r
    if (HeadRe.findFirstIn(sql).isEmpty) return sql
    var out = sql
    // skip matches inside string literals (a data string may contain
    // "(describe")
    def liveMatch(t: SqlText): Option[scala.util.matching.Regex.Match] =
      HeadRe.findAllMatchIn(t.text).find(mm => t.code(mm.start))
    var t = SqlText(out)
    var m = liveMatch(t)
    var guard = 0
    while (m.isDefined && guard < 16) {
      guard += 1
      val open = m.get.start
      val close = t.close(open)
      if (close == out.length) return out
      val inner = out.substring(open + 1, close).trim
      val name = Dml.G + "desc_" + descSeq.incrementAndGet()
      // (DESCRIBE TABLE cte) inside a WITH statement: the enclosing CTE
      // definitions scope the described relation (cte_describe.test)
      val ctePrefix = """(?is)^\s*(WITH\b.*?)\s+(FROM|SELECT)\s*$""".r
        .findFirstMatchIn(out.substring(0, open))
        .map(_.group(1)).getOrElse("")
      Describe.execute(spark, inner, ctePrefix).createOrReplaceTempView(name)
      out = out.substring(0, open) + s"(SELECT * FROM $name)" +
        out.substring(close + 1)
      t = SqlText(out)
      m = liveMatch(t)
    }
    out
  }

  /** `duckdb_tables()` / `duckdb_views()` / `duckdb_columns()` —
    * catalog TVFs inlined as VALUES relations over the live Spark
    * catalog (graft.functions.Attach). */
  private def rewriteDuckdbCatalog(spark: SparkSession, sql: String): String = {
    // both spellings resolve: duckdb_tables() and the bare table-name
    // form `FROM duckdb_tables` (the reference accepts both)
    def tvf(name: String) = ("""(?i)\b""" + name + """\b(\s*\(\s*\))?""").r
    Seq[(scala.util.matching.Regex, () => String)](
      tvf("duckdb_tables") -> (() => Attach.tablesRelation(spark)),
      tvf("duckdb_views") -> (() => Attach.viewsRelation(spark)),
      tvf("duckdb_columns") -> (() => Attach.columnsRelation(spark)),
      tvf("duckdb_variables") -> (() => Variables.relation(spark)),
      tvf("duckdb_constraints") -> (() => Attach.constraintsRelation(spark)),
      // information_schema.columns as a RELATION (FROM position); leave
      // other information_schema entries to Spark
      """(?i)\binformation_schema\s*\.\s*columns\b""".r ->
        (() => Attach.infoSchemaColumnsRelation(spark))
    ).foldLeft(sql) { case (out, (re, relation)) =>
      lazy val rel = relation()
      SqlText.replaceUnquoted(out, re)(_ => rel)
    }
  }

  private def rewriteDuckdbFunctions(spark: SparkSession, sql: String): String = {
    val re = """(?i)\bduckdb_functions\s*\(\s*\)""".r
    if (re.findFirstIn(sql).isEmpty) return sql
    def esc(s: String) = s.replace("'", "''")
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    def emit(ns: java.util.Map[String, Seq[Sig]], kind: String): Unit =
      ns.forEach { (name, sigs) =>
        val parts = name.split('.')
        val (schema, fname) =
          if (parts.length > 1) (parts.head, parts.last) else ("main", name)
        sigs.foreach { case (params, body) =>
          val ps = params.map(p => s"'${esc(paramName(p))}'").mkString(", ")
          val pts = params.map(_ => "CAST(NULL AS STRING)").mkString(", ")
          rows += s"('${esc(schema)}', '${esc(fname)}', '$kind', " +
            s"CAST(NULL AS STRING), CAST(NULL AS STRING), array($ps), " +
            s"array($pts), CAST(NULL AS STRING), '${esc(body)}')"
        }
      }
    emit(registry.get(spark), "macro")
    emit(tableRegistry.get(spark), "table_macro")
    val rel =
      if (rows.isEmpty)
        "(SELECT CAST(NULL AS STRING) AS schema_name, CAST(NULL AS STRING) AS function_name, " +
          "CAST(NULL AS STRING) AS function_type, CAST(NULL AS STRING) AS description, " +
          "CAST(NULL AS STRING) AS return_type, CAST(array() AS ARRAY<STRING>) AS parameters, " +
          "CAST(array() AS ARRAY<STRING>) AS parameter_types, CAST(NULL AS STRING) AS varargs, " +
          "CAST(NULL AS STRING) AS macro_definition WHERE 1=0)"
      else
        s"(SELECT * FROM VALUES ${rows.mkString(", ")} AS t(schema_name, " +
          "function_name, function_type, description, return_type, " +
          "parameters, parameter_types, varargs, macro_definition))"
    SqlText.replaceUnquoted(sql, re)(_ => rel)
  }

  /** The one `DISTINCT ON` shape a table-macro body can reach after
    * expansion where plain DISTINCT is provably equivalent: the ON list
    * IS the select list (`SELECT DISTINCT ON (k) k FROM …` —
    * test_table_macro_args.test sc3). Anything else is left for Spark
    * to reject. */
  private def rewriteDistinctOn(sql: String): String = {
    val DistinctOnRe = """(?i)\bDISTINCT\s+ON\s*\(""".r
    if (DistinctOnRe.findFirstIn(sql).isEmpty) return sql
    val t = SqlText(sql)
    def first(re: scala.util.matching.Regex, from: Int) =
      re.findAllMatchIn(sql).find(m => m.start >= from && t.code(m.start))
    val m = first(DistinctOnRe, 0).getOrElse(return sql)
    val open = m.end - 1
    val close = t.close(open)
    if (close == sql.length) return sql
    val key = sql.substring(open + 1, close).trim
    val from = first("""(?i)\bFROM\b""".r, close + 1).getOrElse(return sql).start
    val selectList = sql.substring(close + 1, from).trim
    if (selectList != key) return sql
    rewriteDistinctOn(
      sql.substring(0, m.start) + s"DISTINCT $selectList " + sql.substring(from))
  }

  /** The reference's `system.main.f(…)` names the BUILTIN catalog — its
    * escape hatch past a same-named macro (test_recursive_macro.test).
    * Macro expansion leaves qualified calls alone; afterwards the
    * qualifier maps to Spark's builtin namespace by dropping it. */
  private def stripBuiltinCatalog(sql: String): String =
    if (sql.indexOf('.') < 0) sql
    else SqlText.replaceUnquoted(sql, """(?i)\bsystem\.main\.(\w+\s*\()""".r)(_.group(1))

  /** Reference star-minus projection `* EXCLUDE (…)` / parenless
    * `* EXCLUDE col` → Spark's `* EXCEPT (…)` (same binder expansion;
    * window-frame EXCLUDE CURRENT ROW/GROUP/TIES has no star prefix
    * and stays untouched). */
  private def rewriteStarExclude(sql: String): String = {
    // parenless form, both spellings (the reference accepts * EXCEPT i
    // too); the lookahead keeps the EXCEPT set operator out (next token
    // would be SELECT/VALUES/TABLE/ALL/DISTINCT/()
    val BareRe =
      ("""(?i)(\*\s*)(?:EXCLUDE|EXCEPT)\s+""" +
        """(?!(?:SELECT|VALUES|TABLE|ALL|DISTINCT|FROM)\b)""" +
        """((?:"[^"]+"|`[^`]+`|[\w$]+)(?:\.(?:"[^"]+"|`[^`]+`|[\w$]+))*)(?![\w$(])""").r
    val sql1 = SqlText.replaceUnquoted(sql, BareRe)(m =>
      m.group(1) + "EXCEPT (" + m.group(2) + ")")
    val Re = """(?i)(\*\s*)EXCLUDE(\s*\()""".r
    val sql2 = SqlText.replaceUnquoted(sql1, Re)(m => m.group(1) + "EXCEPT" + m.group(2))
    // the reference accepts STRING-literal entries in the exclusion
    // list (`* EXCLUDE ('i')`, select_star_exclude.test) — normalize
    // to quoted identifiers
    val LitRe = """(?i)(\*\s*EXCEPT\s*\()([^()]*)(\))""".r
    SqlText.replaceUnquoted(sql2, LitRe)(m =>
      m.group(1) + SqlText.splitTop(m.group(2)).map { t =>
        if (t.length >= 2 && t.head == '\'' && t.last == '\'')
          "`" + t.substring(1, t.length - 1).replace("''", "'") + "`"
        else t
      }.mkString(", ") + m.group(3))
  }

  private def expandLoop(sql: String,
      scalars: java.util.Map[String, Seq[Sig]],
      tables: java.util.Map[String, Seq[Sig]], maxDepth: Int): String = {
    if (scalars.isEmpty && (tables == null || tables.isEmpty)) return sql
    var cur = sql
    var depth = 0
    var changed = true
    while (changed && depth < maxDepth) {
      changed = false
      scalars.forEach { (name, sigs) =>
        val next = expandOne(cur, name, sigs, table = false)
        if (next != cur) { cur = next; changed = true }
      }
      if (tables != null) tables.forEach { (name, sigs) =>
        val next = expandOne(cur, name, sigs, table = true)
        if (next != cur) { cur = next; changed = true }
      }
      depth += 1
      // a self-referential macro (CREATE MACRO sum(x) AS …sum(x)…)
      // doubles the text every round — bail out BEFORE building an
      // exponential string, with the reference's error
      // (ParserOptions.max_expression_depth, test_recursive_macro.test)
      if (changed && cur.length > 1000000)
        throw new IllegalArgumentException("Max expression depth limit")
    }
    if (changed) {
      // depth exhausted while still rewriting — error only if another
      // round would actually change the text (a chain that converges
      // exactly at maxDepth is legal)
      var probe = cur
      scalars.forEach { (n, s) => probe = expandOne(probe, n, s, table = false) }
      if (tables != null)
        tables.forEach { (n, s) => probe = expandOne(probe, n, s, table = true) }
      if (probe != cur)
        throw new IllegalArgumentException("Max expression depth limit")
    }
    cur
  }

  /** `CREATE [OR REPLACE] [TEMP] MACRO` DDL dispatch: TABLE macros to
    * [[createTable]], scalar macros to [[define]] (textual — the
    * reference's macros are untyped, so the typed-UDF path of [[create]]
    * would mis-bind string parameters). */
  def defineAny(spark: SparkSession, ddl: String): Unit =
    if ("""(?is).*\)\s*AS\s+TABLE\b.*""".r.matches(ddl)) createTable(spark, ddl)
    else define(spark, ddl)

  /** Drop every macro registered on the session (hermetic test runners
    * call this per file so definitions can't leak across files). */
  def clear(spark: SparkSession): Unit = {
    registry.get(spark).clear()
    tableRegistry.get(spark).clear()
    // hermetic: the dependency-tracking toggle must not leak into the
    // next test file (test_recursive_macro_no_dependency.test runs the
    // same DDL expecting NO error)
    try spark.conf.unset("enable_macro_dependencies")
    catch { case _: Throwable => () }
  }

  /** `DROP MACRO [TABLE] [IF EXISTS] name` — `TABLE` targets the
    * table-macro namespace; otherwise the scalar entry goes first and
    * the table entry only if no scalar exists (drop_macro.test order).
    * Errors on unknown name unless IF EXISTS. */
  def drop(spark: SparkSession, ddl: String): Unit = {
    // name may be schema-qualified (CREATE MACRO macros.add accepts it),
    // so the drop pattern must mirror Head's qualified-name grammar
    val m = """(?is)\s*DROP\s+(?:MACRO|FUNCTION)\s+(TABLE\s+)?(IF\s+EXISTS\s+)?`?(\w+(?:\.\w+)?)`?\s*;?\s*""".r
    ddl match {
      case m(tableKw, ifExists, name0) =>
        val name = name0.toLowerCase
        // registration keys on the bare name (Head strips the schema),
        // so try both the qualified and unqualified spellings
        val keys = Seq(name, name.substring(name.indexOf('.') + 1)).distinct
        def rm(r: java.util.Map[String, _]): AnyRef =
          keys.iterator.map(k => r.remove(k).asInstanceOf[AnyRef])
            .collectFirst { case v if v != null => v }.orNull
        val removed =
          if (tableKw != null) rm(tableRegistry.get(spark))
          else {
            val a = rm(registry.get(spark))
            if (a != null) a else rm(tableRegistry.get(spark))
          }
        if (removed == null && ifExists == null)
          throw new IllegalArgumentException(s"macro $name0 does not exist")
      case _ =>
        throw new IllegalArgumentException(s"not a DROP MACRO statement: $ddl")
    }
  }

  /** Lambda scopes inside a macro body: spans of `v -> body` /
    * `(v1, v2) -> body` where the lambda variables SHADOW same-named
    * macro parameters (lambdas_and_macros.test scoping_macro: the
    * reference's inner scope wins). A span runs from after `->` to the
    * end of the enclosing argument (top-level `,` or closing `)`). */
  private def lambdaScopes(body: String): Seq[(Int, Int, Set[String])] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Set[String])]()
    val t = SqlText(body)
    var i = 0
    while (i < body.length - 1) {
      if (t.code(i) && body.charAt(i) == '-' && body.charAt(i + 1) == '>') {
        // variables: backward over `ident` or `(ident, ident…)`
        var j = i - 1
        while (j >= 0 && body.charAt(j).isWhitespace) j -= 1
        val vars = scala.collection.mutable.Set[String]()
        var headStart = i // span must cover the head vars too — they are
        //                  binders, not parameter references
        if (j >= 0 && body.charAt(j) == ')' && t.open(j) >= 0) {
          SqlText.splitTop(body.substring(t.open(j) + 1, j)).foreach { v =>
            if (v.matches("\\w+")) vars += v.toLowerCase
          }
          headStart = t.open(j)
        } else {
          val end = j + 1
          while (j >= 0 && (body.charAt(j).isLetterOrDigit || body.charAt(j) == '_')) j -= 1
          val v = body.substring(j + 1, end).toLowerCase
          if (v.nonEmpty) vars += v
          headStart = j + 1
        }
        // body span: after `->` until the enclosing group ends (its
        // close bracket, or a comma of that group)
        val d = t.depth(i)
        var stop = i + 2
        while (stop < body.length && !(t.code(stop) &&
            (t.depth(stop) < d || body.charAt(stop) == ',' && t.depth(stop) == d))) stop += 1
        if (vars.nonEmpty) out += ((headStart, stop, vars.toSet))
        i += 2
      } else i += 1
    }
    out.toSeq
  }

  /** Single-pass substitution: each parameter occurrence is replaced
    * directly with its (parenthesized) argument while scanning the
    * ORIGINAL body left to right — capture-free by construction (an
    * argument containing another parameter's name is emitted, never
    * rescanned). Occurrences inside a lambda scope whose variable
    * shadows the parameter are left alone, and quoted text is opaque. */
  private def substitute(body: String, params: Seq[String], args: Seq[String]): String = {
    // a call-site `DISTINCT x` argument (my_count(DISTINCT i) — the
    // reference forwards the set quantifier into the body's aggregate)
    // cannot be parenthesized: `COUNT((DISTINCT i))` is a syntax error
    val repl: Map[String, String] =
      params.map(_.toLowerCase).zip(args.map(a =>
        if ("""(?is)^\s*DISTINCT\b.*""".r.matches(a)) a else s"($a)")).toMap
    val scopes = lambdaScopes(body)
    val t = SqlText(body)
    val out = new StringBuilder
    var i = 0
    while (i < body.length) {
      val ch = body.charAt(i)
      if (t.code(i) && (ch.isLetter || ch == '_')) {
        var j = i
        while (j < body.length && (body.charAt(j).isLetterOrDigit || body.charAt(j) == '_')) j += 1
        val word = body.substring(i, j)
        val lc = word.toLowerCase
        val shadowed = scopes.exists { case (s, e, vs) =>
          i >= s && i < e && vs.contains(lc) }
        repl.get(lc) match {
          case Some(a) if !shadowed => out.append(a)
          case _ => out.append(word)
        }
        i = j
      } else {
        out.append(ch); i += 1
      }
    }
    out.toString
  }

  /** The word (if any) directly before position `i`, for FROM-context
    * dispatch. */
  private def prevWord(sql: String, i: Int): String = {
    var j = i - 1
    while (j >= 0 && sql.charAt(j).isWhitespace) j -= 1
    val end = j + 1
    while (j >= 0 && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j -= 1
    sql.substring(j + 1, end)
  }

  private def expandOne(sql: String, name: String, sigs: Seq[Sig],
      table: Boolean): String = {
    if (!sql.toLowerCase.contains(name + "(")) return sql
    val t = SqlText(sql)
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      if (t.code(i) && t.lower.startsWith(name + "(", i) &&
          // boundary: not mid-identifier, and not `.`-qualified — a
          // qualified call (system.main.sum(x)) targets the BUILTIN,
          // the reference's escape hatch out of macro recursion
          // (test_recursive_macro.test)
          (i == 0 || {
            val p = sql.charAt(i - 1)
            !Character.isLetterOrDigit(p) && p != '_' && p != '.'
          }) &&
          {
            val fromCtx = { val w = prevWord(sql, i).toLowerCase
              w == "from" || w == "join" }
            fromCtx == table
          }) {
        val (args, after) = t.argsAt(i + name.length)
        val (sig, bound) = bindOverload(name, sigs, args)
        out.append(s"(${substitute(sig._2, sig._1.map(paramName), bound)})")
        i = after
      } else {
        out.append(sql.charAt(i)); i += 1
      }
    }
    out.toString
  }
}

/** Session-keyed map with listener-based eviction on application end —
  * shared lifetime handling for per-session registries (used by Macros;
  * same pattern as engine.Tables' plan cache).
  */
private[graft] final class SessionScoped[V <: AnyRef](mk: () => V) {
  private val m = new java.util.concurrent.ConcurrentHashMap[SparkSession, V]()
  def get(spark: SparkSession): V = m.computeIfAbsent(spark, s => {
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onApplicationEnd(
          e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = m.remove(s)
    })
    mk()
  })
}

private[graft] object SessionScoped {
  def apply[V <: AnyRef](mk: () => V): SessionScoped[V] = new SessionScoped(mk)
}
