package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import scala.util.control.NonFatal

/** CREATE TABLE constraint capture + DML-time enforcement.
  *
  * Reference semantics: `src/storage/data_table.cpp:594-632`
  * (`VerifyAppendConstraints`: NOT NULL, CHECK, unique-index probes run
  * BEFORE any row is appended — a failed multi-row INSERT writes
  * nothing), `src/planner/binder/statement/bind_create_table.cpp` (CHECK
  * expressions bind against the table's own columns only: no subqueries,
  * no aggregates, no other relations), and the
  * `test/sql/constraints/{test_not_null,check,primarykey,unique}` suites.
  *
  * Spark has no enforced constraints, so the engine keeps the declared
  * constraint set in a session registry (the DDL executes with the
  * constraint syntax stripped) and the DML layer (graft.functions.Dml)
  * verifies every relation of new rows before it reaches the table, with
  * four probes, each written once:
  *  1. one aggregate over the new rows answers every NOT NULL, CHECK and
  *     in-relation UNIQUE constraint together (a narrow scan plus one
  *     hash shuffle of the keys, the cost class of the reference's ART
  *     index build);
  *  2. one anti-join per FOREIGN KEY finds an orphan, from the child side
  *     or the parent side;
  *  3. a GROUP BY names a repeated key, once probe 1 has found one;
  *  4. on append, a join finds a new key an existing row already holds.
  * Errors win in declared order: NOT NULL, CHECK, FOREIGN KEY, UNIQUE.
  *
  * Error surfaces mirrored exactly:
  *  - "NOT NULL constraint failed: table.col" (data_table.cpp:594)
  *  - "CHECK constraint failed on table t with expression expr"
  *    (data_table.cpp:632)
  *  - a key a row already in the table holds (on a rewrite, an old row
  *    the statement left unchanged): "Duplicate key \"col: v\" violates
  *    primary key|unique constraint." (art.cpp:839)
  *  - a key repeated among the statement's own new rows: "PRIMARY KEY or
  *    UNIQUE constraint violation: duplicate key \"col: v\"" (art.cpp:570)
  *  - existing contents at ADD PRIMARY KEY / CREATE UNIQUE INDEX: "Data
  *    contains duplicates on indexed column(s)" (art_index.cpp:106)
  */
object Constraints {

  case class UniqueSet(cols: Seq[String], isPk: Boolean)

  /** A VIRTUAL/STORED generated column: the physical table carries the
    * computed value (recomputed by every engine write path), `expr` is
    * the defining expression over the table's other columns. */
  case class GeneratedCol(name: String, tpe: String, expr: String)

  /** FOREIGN KEY (cols) REFERENCES parentTable(parentCols).
    * `parentTable` is stored RESOLVED (db.table) so parent-side
    * enforcement can find children across the session registry. */
  case class ForeignKey(cols: Seq[String], parentTable: String,
      parentCols: Seq[String])

  case class TableConstraints(
      table: String,
      notNull: Seq[String],
      checks: Seq[String],
      uniques: Seq[UniqueSet],
      generated: Seq[GeneratedCol] = Nil,
      foreignKeys: Seq[ForeignKey] = Nil)

  /** Children referencing `parentTable` via a FOREIGN KEY, as
    * (child resolved name, constraints, the FK). Self-references are
    * excluded (a self-FK never blocks its own table's drop). */
  def childrenOf(spark: SparkSession, parentTable: String)
      : Seq[(String, TableConstraints, ForeignKey)] = {
    val target = resolvedName(spark, parentTable)
    val pfx = sessionKey(spark) + ":"
    val out = scala.collection.mutable.ArrayBuffer[(String, TableConstraints, ForeignKey)]()
    registry.forEach { (k, tc) =>
      if (k.startsWith(pfx) && k != pfx + target)
        tc.foreignKeys.filter(_.parentTable == target)
          .foreach(fk => out += ((k.stripPrefix(pfx), tc, fk)))
    }
    out.toSeq
  }

  // session-scoped registry (same WeakHashMap+UUID keying discipline as
  // graft.functions.Sequences — see the rationale there)
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, TableConstraints]()
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def sessionKey(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  private def bare(table: String): String =
    Dml.unq(table.split('.').last.trim).toLowerCase

  private def currentDb(spark: SparkSession): String =
    try spark.catalog.currentDatabase.toLowerCase
    catch { case NonFatal(_) => "default" }

  /** Registry names are db-qualified: a CREATE/DROP of `otherdb.t` must
    * not touch the constraints of `default.t` (the multi-database
    * surface — ATTACH, COPY FROM DATABASE — makes bare-name keying
    * wrong). Unqualified names resolve against the session's current
    * database, matching the reference's schema search path. */
  private def resolvedName(spark: SparkSession, table: String): String = {
    // the reference's builtin schema prefix (main.t / system.main.t)
    // means "current database", same stripping as Dml.parseTableRef
    val stripped = table.replaceAll("(?i)^(system\\s*\\.\\s*)?main\\s*\\.\\s*", "")
    val parts = stripped.split('.').iterator
      .map(p => Dml.unq(p.trim).toLowerCase).filter(_.nonEmpty).toSeq
    val t = parts.last
    val db =
      if (parts.length < 2) currentDb(spark)
      else parts(parts.length - 2) match {
        // catalog.main.table — interior "main" is the builtin schema
        case "main" if parts.length >= 3 => parts(parts.length - 3)
        case "main" => currentDb(spark)
        case d => d
      }
    db + "." + t
  }

  private def key(spark: SparkSession, table: String): String =
    sessionKey(spark) + ":" + resolvedName(spark, table)

  def of(spark: SparkSession, table: String): Option[TableConstraints] =
    Option(registry.get(key(spark, table)))

  /** Register under tc.table resolved in the CURRENT database. */
  def register(spark: SparkSession, tc: TableConstraints): Unit =
    registry.put(key(spark, tc.table), tc): Unit

  /** Register under an explicitly (possibly db-qualified) name — used
    * when the registration site's current database is not the target's
    * (COPY FROM DATABASE, qualified CREATE TABLE). */
  def registerAt(spark: SparkSession, table: String, tc: TableConstraints): Unit =
    registry.put(key(spark, table), tc): Unit

  def unregister(spark: SparkSession, table: String): Unit =
    registry.remove(key(spark, table)): Unit

  /** All registrations of this session: (resolved "db.table", tc) —
    * backs the duckdb_constraints() catalog TVF. */
  def allOf(spark: SparkSession): Map[String, TableConstraints] = {
    val pfx = sessionKey(spark) + ":"
    val out = scala.collection.mutable.Map[String, TableConstraints]()
    registry.forEach { (k, tc) =>
      if (k.startsWith(pfx)) out(k.stripPrefix(pfx)) = tc
    }
    out.toMap
  }

  /** Drop every registration of this session (corpus-runner hermeticity,
    * like Macros.clear). */
  def clear(spark: SparkSession): Unit = {
    val pfx = sessionKey(spark) + ":"
    registry.keySet.removeIf(_.startsWith(pfx)): Unit
  }

  // ------------------------------------------------------------------
  // DDL interception
  // ------------------------------------------------------------------

  private val CreateHead =
    """(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP\s+|TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?((?:"[^"]+"|`[^`]+`|[\w$]+)(?:\s*\.\s*(?:"[^"]+"|`[^`]+`|[\w$]+))*)\s*\(""".r
  private val DropHead =
    """(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?((?:"[^"]+"|`[^`]+`|[\w$]+)(?:\s*\.\s*(?:"[^"]+"|`[^`]+`|[\w$]+))*)""".r
  private val ConstraintKw =
    ("""(?i)(\bPRIMARY\s+KEY\b|\bUNIQUE\b|\bCHECK\s*\(|\bNOT\s+NULL\b|""" +
      """\bFOREIGN\s+KEY\b|\bREFERENCES\b|\bGENERATED\s+ALWAYS\b|\bAS\s*\(|""" +
      // stateful DEFAULTs need the engine's metadata side channel —
      // Spark's DDL analyzer would reject (or worse, pre-evaluate) them
      """\bDEFAULT\b[^,)]*\b(nextval|currval)\s*\()""").r

  /** True when the statement is a CREATE TABLE whose body declares
    * constraints this module must capture and enforce. */
  def matchesDdl(sql: String): Boolean = CreateHead.findFirstMatchIn(sql) match {
    case Some(m) =>
      ConstraintKw.findFirstIn(sql.substring(m.end - 1)).isDefined
    case None => false
  }

  private val TableDdlHead =
    """(?is)^\s*(DROP\s+TABLE|CREATE\s+(OR\s+REPLACE\s+)?TABLE)\b""".r

  /** True for DROP TABLE and any CREATE TABLE: statements after which a
    * registration under the table's name is stale. */
  def matchesTableDdl(sql: String): Boolean = TableDdlHead.findFirstIn(sql).isDefined

  /** Statement-path hook for DROP TABLE / plain CREATE TABLE (a
    * constraint-bearing CREATE goes to executeDdl instead): guards FK
    * parents against DROP and unregisters stale entries; the statement
    * itself still runs on the default path. */
  def intercept(spark: SparkSession, sql: String): Unit = {
    DropHead.findFirstMatchIn(sql).foreach { m =>
      // FK dependency: a referenced parent cannot drop while a child
      // holds a FOREIGN KEY to it — but only if the table still exists
      // (DROP IF EXISTS of a gone table stays a no-op)
      if (spark.catalog.tableExists(m.group(1).replace("\"", "`")))
        rejectDropIfParent(spark, m.group(1))
      unregister(spark, m.group(1))
    }
    CreateHead.findFirstMatchIn(sql).foreach(m => unregister(spark, m.group(3)))
  }

  // ------------------------------------------------------------------
  // CREATE UNIQUE INDEX / DROP INDEX — the reference's other spelling
  // of a uniqueness constraint (art_index.cpp; plain CREATE INDEX only
  // changes physical planning and stays dropped at import)
  // ------------------------------------------------------------------

  private val UniqueIndexRe =
    """(?is)^\s*CREATE\s+UNIQUE\s+INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?("[^"]+"|`[^`]+`|[\w$]+)\s+ON\s+((?:"[^"]+"|`[^`]+`|[\w$]+)(?:\s*\.\s*(?:"[^"]+"|`[^`]+`|[\w$]+))*)\s*\(([^)]*)\)""".r
  private val DropIndexRe =
    """(?is)^\s*DROP\s+INDEX\s+(?:IF\s+EXISTS\s+)?("[^"]+"|`[^`]+`|[\w$]+)""".r

  /** session:indexname → (table bare name, column set) */
  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[String])]()

  def matchesIndexDdl(sql: String): Boolean =
    UniqueIndexRe.findFirstMatchIn(sql).isDefined ||
      DropIndexRe.findFirstMatchIn(sql).isDefined

  def executeIndexDdl(spark: SparkSession, sql: String): DataFrame = {
    UniqueIndexRe.findFirstMatchIn(sql) match {
      case Some(m) =>
        val idx = Dml.unq(m.group(1)).toLowerCase
        val table = m.group(2)
        val cols = SqlText.splitTop(m.group(3)).map(Dml.unq)
        verifyExisting(spark, table, Nil, cols)
        val tc = of(spark, table).getOrElse(
          TableConstraints(bare(table), Nil, Nil, Nil))
        registerAt(spark, table, tc.copy(
          uniques = tc.uniques :+ UniqueSet(cols, isPk = false)))
        indexes.put(sessionKey(spark) + ":" + idx,
          (resolvedName(spark, table), cols))
        spark.emptyDataFrame
      case None =>
        val m = DropIndexRe.findFirstMatchIn(sql).getOrElse(
          throw new IllegalArgumentException(s"not an index DDL: $sql"))
        val idx = Dml.unq(m.group(1)).toLowerCase
        Option(indexes.remove(sessionKey(spark) + ":" + idx)).foreach {
          case (table, cols) =>
            of(spark, table).foreach { tc =>
              registerAt(spark, table, tc.copy(uniques = tc.uniques.filterNot(u =>
                !u.isPk && u.cols.map(_.toLowerCase) == cols.map(_.toLowerCase))))
            }
        }
        spark.emptyDataFrame
    }
  }

  /** True when a CREATE UNIQUE INDEX entry targets this table — the
    * reference blocks ALTERs of tables with dependent index entries
    * ("Cannot alter entry ... because there are entries that depend on
    * it", catalog_entry dependency manager). */
  def hasIndexOn(spark: SparkSession, table: String): Boolean = {
    val target = resolvedName(spark, table)
    val pfx = sessionKey(spark) + ":"
    val it = indexes.entrySet().iterator()
    var found = false
    while (it.hasNext && !found) {
      val e = it.next()
      if (e.getKey.startsWith(pfx) && e.getValue._1 == target) found = true
    }
    found
  }

  private case class ColDef(name: String, tpe: String, default: Option[String])

  /** Parse + validate + register + run the constraint-stripped DDL. */
  def executeDdl(spark: SparkSession, sql: String): DataFrame = {
    val m = CreateHead.findFirstMatchIn(sql).getOrElse(
      throw new IllegalArgumentException(s"not a CREATE TABLE: $sql"))
    val orReplace = m.group(1) != null
    val ifNotExists = m.group(2) != null
    val table = m.group(3)
    // body = text between the opening paren and its matching close
    val openIdx = m.end - 1
    val body = sql.substring(openIdx + 1, SqlText(sql).close(openIdx))

    val cols = scala.collection.mutable.ArrayBuffer[ColDef]()
    val notNull = scala.collection.mutable.LinkedHashSet[String]()
    val checks = scala.collection.mutable.ArrayBuffer[String]()
    val uniques = scala.collection.mutable.ArrayBuffer[UniqueSet]()
    // generated columns in declared order; (name, declaredType?, expr)
    val genRaw = scala.collection.mutable.ArrayBuffer[(String, Option[String], String)]()
    val order = scala.collection.mutable.ArrayBuffer[String]() // column order
    // (fk cols, parent table text, parent cols or None = parent PK)
    val fks = scala.collection.mutable.ArrayBuffer[(Seq[String], String, Option[Seq[String]])]()

    for (item0 <- SqlText.splitTop(body)) {
      val item = item0.replaceFirst("(?is)^CONSTRAINT\\s+(\"[^\"]+\"|`[^`]+`|[\\w$]+)\\s+", "")
      val il = item.toLowerCase
      // keyword boundaries matter: a COLUMN named foreign_a / checksum /
      // unique_id must parse as a column def, not a table constraint
      if (il.matches("(?s)^primary\\s+key\\b.*")) {
        val pkCols = innerList(item)
        uniques += UniqueSet(pkCols, isPk = true)
        notNull ++= pkCols
      } else if (il.matches("(?s)^unique\\s*\\(.*")) {
        uniques += UniqueSet(innerList(item), isPk = false)
      } else if (il.matches("(?s)^check\\s*\\(.*")) {
        checks += innerParen(item)
      } else if (il.matches("(?s)^foreign\\s+key\\b.*")) {
        // FOREIGN KEY (cols) REFERENCES parent [(cols)]
        val FkRe = ("""(?is)^FOREIGN\s+KEY\s*\(([^)]*)\)\s*REFERENCES\s+""" +
          """((?:"[^"]+"|`[^`]+`|[\w$]+)(?:\s*\.\s*(?:"[^"]+"|`[^`]+`|[\w$]+))*)\s*(?:\(([^)]*)\))?\s*""" +
          """((?:ON\s+(?:UPDATE|DELETE)\s+(?:NO\s+ACTION|RESTRICT|CASCADE|SET\s+NULL|SET\s+DEFAULT)\s*)*)$""").r
        item match {
          case FkRe(fcols, ptab, pcols, actions) =>
            // only the reference's supported actions pass: NO ACTION /
            // RESTRICT are the (identical) defaults; CASCADE/SET x are
            // rejected like the reference parser (test_action.test)
            if (actions != null &&
                """(?i)\b(CASCADE|SET\s+NULL|SET\s+DEFAULT)\b""".r
                  .findFirstIn(actions).isDefined)
              throw new IllegalArgumentException(
                "Parser Error: FOREIGN KEY actions other than NO ACTION and RESTRICT are not supported")
            fks += ((SqlText.splitTop(fcols).map(Dml.unq),
              ptab, Option(pcols).map(SqlText.splitTop(_).map(Dml.unq))))
          case _ => throw new IllegalArgumentException(
            s"Parser Error: cannot parse FOREIGN KEY clause: $item")
        }
      } else parseGenerated(item) match {
        case Some(g) =>
          genRaw += ((g._1, g._2, g._3)); g._4.foreach(checks += _)
          order += g._1
        case None =>
          val cd0 = parseColDef(item, notNull, checks, uniques, fks)
          val cd = cd0.copy(tpe = Dml.normType(cd0.tpe))
          cols += cd; order += cd.name
      }
    }

    // ---- generated columns (reference bind_create_table.cpp /
    // test/sql/generated_columns/virtual): bind each expression against
    // the table's physical columns (forward references allowed), infer
    // the type when omitted, reject subqueries outright
    if (cols.isEmpty && genRaw.nonEmpty)
      throw new IllegalArgumentException(
        "Binder Error: Creating a table with only generated columns is not supported")
    for (g <- genRaw) {
      if (Dml.hasSubquery(g._3))
        throw new IllegalArgumentException(
          "Parser Error: A subquery isn't allowed in a generated column expression")
      // a macro expanding TO a subquery binds — and must fail — like the
      // reference's bound-expression check (virtual/create_table.test)
      if (Dml.hasSubquery(Macros.expandAll(spark, g._3)))
        throw new IllegalArgumentException(
          s"""Binder Error: Failed to bind generated column "${g._1}": expression contains a subquery""")
    }
    // aggregates are not allowed in generated expressions (the
    // reference rejects list()/sum() there: not_referencing_columns.test)
    for (g <- genRaw) Dml.rejectAggregates(g._3)
    // key constraints cannot cover generated columns (unique.test,
    // primary_key.test)
    locally {
      val genNames = genRaw.map(_._1.toLowerCase).toSet
      for (u <- uniques; c <- u.cols if genNames(c.toLowerCase))
        throw new IllegalArgumentException(
          s"""Binder Error: Creating an index on a generated column is not supported: "$c"""")
    }
    locally {
      val genNames = genRaw.map(_._1.toLowerCase).toSet
      for (ck <- checks; g <- genNames
           if ("(?i)(?<![\\w$])" + java.util.regex.Pattern.quote(g) +
             "(?![\\w$])").r.findFirstIn(ck.toLowerCase).isDefined)
        throw new IllegalArgumentException(
          "Binder Error: Constraints on generated columns are not supported yet")
    }
    val gens = scala.collection.mutable.ArrayBuffer[GeneratedCol]()
    if (genRaw.nonEmpty) {
      val baseProbe = cols.map(c =>
        s"CAST(NULL AS ${c.tpe}) AS ${Dml.q(c.name)}").mkString(", ")
      def bind(exprTxt: String, extra: Seq[GeneratedCol]): Option[String] = {
        val withGens = (Seq(s"SELECT $baseProbe") ++ extra.map(g =>
          s"(${g.expr}) AS ${Dml.q(g.name)}")) match {
          case Seq(one) => one
          case many => many.head + ", " + many.tail.mkString(", ")
        }
        try Some(Dml.gsql(spark,
          s"SELECT ($exprTxt) AS ${G_PROBE} FROM ($withGens)")
          .schema.head.dataType.sql)
        catch { case NonFatal(_) => None }
      }
      // two waves: expressions over physical columns, then expressions
      // that additionally reference wave-one generated columns
      var pending = genRaw.toSeq
      var wave = 0
      while (pending.nonEmpty && wave <= genRaw.length) {
        val (ok, rest) = pending.partition(g => bind(g._3, gens.toSeq).isDefined)
        for (g <- ok)
          gens += GeneratedCol(g._1,
            Dml.normType(g._2.getOrElse(bind(g._3, gens.toSeq).get)), g._3)
        pending = rest
        wave += 1
      }
      pending.headOption.foreach { g =>
        // re-run once to surface the underlying message class
        val err =
          try { Dml.gsql(spark,
            s"SELECT (${g._3}) AS ${G_PROBE} FROM (SELECT $baseProbe)").collect(); "" }
          catch { case NonFatal(e) => Option(e.getMessage).getOrElse("") }
        if (err.contains("UNRESOLVED_ROUTINE") || err.contains("Undefined function"))
          throw new IllegalArgumentException(
            s"Catalog Error: Scalar Function referenced in generated column does not exist: ${err.take(160)}")
        throw new IllegalArgumentException(
          s"Binder Error: Failed to bind generated column \"${g._1}\": ${err.take(300)}")
      }
    }

    // CHECK validation at create time (bind_create_table.cpp): no
    // subqueries, no aggregates, only this table's columns
    val probe = (cols.map(c =>
      s"CAST(NULL AS ${c.tpe}) AS ${Dml.q(c.name)}") ++ gens.map(g =>
      s"CAST(NULL AS ${g.tpe}) AS ${Dml.q(g.name)}")).mkString(", ")
    for (ck <- checks) {
      if (Dml.hasSubquery(ck))
        throw new IllegalArgumentException(
          "Binder Error: subqueries are not allowed in CHECK constraints")
      val bound = stripSelfQualifier(ck, table)
      try spark.sql(s"SELECT count(*) FROM (SELECT $probe) WHERE coalesce(($bound), true)").collect()
      catch {
        case NonFatal(e) => throw new IllegalArgumentException(
          s"Binder Error: invalid CHECK constraint expression ($ck): ${e.getMessage}")
      }
    }

    // ---- FOREIGN KEY validation (bind_create_table.cpp): the parent
    // must exist and carry a PK/UNIQUE on the referenced columns;
    // omitted parent columns default to the parent's PRIMARY KEY
    // (fk_implicit_primary_key.test). Self-references resolve against
    // this statement's own key set.
    val selfName = resolvedName(spark, table)
    val declaredCols = (cols.map(_.name) ++ genRaw.map(_._1)).map(_.toLowerCase).toSet
    val genColNames = genRaw.map(_._1.toLowerCase).toSet
    val resolvedFks: Seq[ForeignKey] = fks.toSeq.map { case (fcols, ptab, pcolsOpt) =>
      // FK columns must exist in THIS table and not be generated
      for (c <- fcols) {
        if (!declaredCols(c.toLowerCase))
          throw new IllegalArgumentException(
            s"""Binder Error: table "${bare(table)}" does not have a column named "$c"""")
        if (genColNames(c.toLowerCase))
          throw new IllegalArgumentException(
            s"""Binder Error: Foreign key on a generated column is not supported: "$c"""")
      }
      val presolved = resolvedName(spark, ptab)
      val selfRef = presolved == selfName
      if (selfRef)
        for (c <- pcolsOpt.toSeq.flatten if !declaredCols(c.toLowerCase))
          throw new IllegalArgumentException(
            s"""Binder Error: table "${bare(table)}" does not have a column named "$c"""")
      val ptc =
        if (selfRef) Some(TableConstraints(bare(table), Nil, Nil, uniques.toSeq))
        else of(spark, ptab)
      if (!selfRef && !spark.catalog.tableExists(ptab.replace("\"", "`")))
        throw new IllegalArgumentException(
          s"Catalog Error: Table with name ${Dml.unq(ptab.split('.').last)} does not exist!")
      val pcols = pcolsOpt.getOrElse {
        ptc.flatMap(_.uniques.find(_.isPk)).map(_.cols).getOrElse(
          throw new IllegalArgumentException(
            s"""Binder Error: Failed to create foreign key: there is no primary key for referenced table "${Dml.unq(ptab.split('.').last)}""""))
      }
      val want = pcols.map(_.toLowerCase).toSet
      val keyed = ptc.exists(_.uniques.exists(_.cols.map(_.toLowerCase).toSet == want))
      if (!keyed)
        throw new IllegalArgumentException(
          s"""Binder Error: Failed to create foreign key: there is no primary key or unique constraint for referenced table "${Dml.unq(ptab.split('.').last)}" on the referenced columns""")
      if (fcols.length != pcols.length)
        throw new IllegalArgumentException(
          "Binder Error: Failed to create foreign key: number of referencing and referenced columns for foreign key must match")
      ForeignKey(fcols, presolved, pcols)
    }

    // physical DDL in DECLARED column order; generated columns are
    // physical columns here (computed by every engine write path)
    // stateful defaults (nextval) cannot ride Spark's native DEFAULT —
    // create the column bare, then attach the engine's GRAFT_DEFAULT
    // metadata through the ALTER machinery (empty-table rebuild = free)
    val statefulDefaults = cols.filter(c =>
      c.default.exists(Alter.nonFoldableDefault)).map(c => c.name -> c.default.get)
    val byName = (cols.map(c => c.name.toLowerCase ->
        (s"${Dml.q(c.name)} ${c.tpe}" + c.default
          .filterNot(Alter.nonFoldableDefault)
          .map(d => s" DEFAULT $d").getOrElse(""))) ++
      gens.map(g => g.name.toLowerCase -> s"${Dml.q(g.name)} ${g.tpe}")).toMap
    val coldefs = order.map(n => byName(n.toLowerCase))
    if (orReplace) spark.sql(s"DROP TABLE IF EXISTS $table").collect()
    val ine = if (ifNotExists) "IF NOT EXISTS " else ""
    spark.sql(s"CREATE TABLE $ine$table (${coldefs.mkString(", ")})").collect()
    for ((c, d) <- statefulDefaults)
      Alter.execute(spark, s"ALTER TABLE $table ALTER COLUMN ${Dml.q(c)} SET DEFAULT $d"): Unit
    registerAt(spark, table, TableConstraints(bare(table), notNull.toSeq,
      checks.map(c => stripSelfQualifier(c, table)).toSeq, uniques.toSeq,
      gens.toSeq, resolvedFks))
    spark.emptyDataFrame
  }

  private val G_PROBE = Dml.G + "gen_probe"

  /** `name [type] [GENERATED ALWAYS] AS (expr) [VIRTUAL|STORED]
    * [CHECK (...)]` → Some((name, declaredType, expr, inlineCheck));
    * None when the item is a plain column definition. */
  private def parseGenerated(item: String)
      : Option[(String, Option[String], String, Option[String])] = {
    val NameRe = """(?s)^\s*("[^"]+"|`[^`]+`|[\w$]+)(.*)$""".r
    val (name, rest) = item match {
      case NameRe(n, r) => (Dml.unq(n), r)
      case _ => return None
    }
    val t = SqlText(item)
    val nameEnd = item.length - rest.length
    // find a top-level AS keyword followed by '('
    var asAt = -1
    var i = nameEnd
    while (i < item.length && asAt < 0) {
      if (t.depth(i) == 0 && t.kwAt(i, "as")) {
        var j = i + 2
        while (j < item.length && item.charAt(j).isWhitespace) j += 1
        if (j < item.length && item.charAt(j) == '(') asAt = i
      }
      i += 1
    }
    if (asAt < 0) return None
    val head = item.substring(nameEnd, asAt).trim
    val declared = head.replaceAll("(?is)\\bGENERATED\\s+ALWAYS\\s*$", "").trim
    val (exprTxt, close) = innerParenSpan(item.substring(asAt))
    var tail = item.substring(asAt + close + 1).trim
    tail = tail.replaceFirst("(?is)^(VIRTUAL|STORED)\\b", "").trim
    // constraint clauses may follow the generated definition; a CHECK
    // over OTHER columns is a plain table check, but any constraint ON
    // the generated column itself is rejected (virtual/check.test,
    // unique.test: "Constraints on generated columns are not supported")
    var inlineCheck: Option[String] = None
    if (tail.nonEmpty) {
      val tl = tail.toLowerCase
      if (tl.startsWith("check")) {
        val (ck, ckClose) = innerParenSpan(tail)
        if (("(?i)(?<![\\w$])" + java.util.regex.Pattern.quote(name.toLowerCase) +
            "(?![\\w$])").r.findFirstIn(ck.toLowerCase).isDefined)
          throw new IllegalArgumentException(
            "Binder Error: Constraints on generated columns are not supported yet")
        inlineCheck = Some(ck)
        tail = tail.substring(ckClose + 1).trim
        if (tail.nonEmpty) throw new IllegalArgumentException(
          s"Parser Error: cannot parse generated column tail: $tail")
      } else throw new IllegalArgumentException(
        "Binder Error: Constraints on generated columns are not supported yet")
    }
    Some((name, if (declared.isEmpty) None else Some(declared), exprTxt,
      inlineCheck))
  }

  /** Recompute generated columns on full-width contents — the engine's
    * every write path (INSERT batch, UPDATE/MERGE/upsert rewrite) runs
    * new rows through this, so physical values always match the
    * defining expressions. Columns keep their positions (withColumn
    * replaces in place); registry order is dependency order, so chained
    * generated columns resolve naturally. */
  def applyGenerated(spark: SparkSession, tc: TableConstraints,
      df: DataFrame): DataFrame =
    tc.generated.foldLeft(df) { (d, g) =>
      import org.apache.spark.sql.functions.expr
      val raw = expr(g.expr)
      val casted = raw.cast(
        org.apache.spark.sql.types.StructType.fromDDL(s"`x` ${g.tpe}").head.dataType)
      // strict-cast probe: a value the declared type cannot represent is
      // a constraint error (virtual/insert.test), not a silent NULL —
      // under ANSI the probe cast itself throws, which maps the same way
      val bad =
        try d.where(raw.isNotNull && casted.isNull).limit(1).collect().nonEmpty
        catch { case NonFatal(_) => true }
      if (bad)
        throw new IllegalArgumentException(
          s"""Constraint Error: Incorrect value for generated column "${g.name}" of type ${g.tpe}""")
      d.withColumn(g.name, casted)
    }

  /** `PRIMARY KEY (a, b)` → Seq(a, b). */
  private def innerList(item: String): Seq[String] =
    SqlText.splitTop(innerParen(item)).map(Dml.unq)

  /** Text inside the item's first top-level parenthesis group. */
  private def innerParen(item: String): String = innerParenSpan(item)._1

  /** Same, plus the index of the matching close paren — callers that
    * keep parsing past the group must advance with this index, NOT a
    * length reconstructed from the trimmed inner text (`CHECK ( i > 0 )`
    * trims two chars and would mis-offset the tail). */
  private def innerParenSpan(item: String): (String, Int) = {
    val open = item.indexOf('(')
    if (open < 0) throw new IllegalArgumentException(
      s"Parser Error: expected a parenthesized list in: $item")
    val close = SqlText(item).close(open)
    (item.substring(open + 1, close).trim, close)
  }

  private val TailKws = Seq("not null", "null", "primary key", "unique",
    "check", "default", "references", "collate")

  private def parseColDef(item: String,
      notNull: scala.collection.mutable.LinkedHashSet[String],
      checks: scala.collection.mutable.ArrayBuffer[String],
      uniques: scala.collection.mutable.ArrayBuffer[UniqueSet],
      fks: scala.collection.mutable.ArrayBuffer[(Seq[String], String, Option[Seq[String]])] =
        scala.collection.mutable.ArrayBuffer.empty): ColDef = {
    // first token = column name
    val NameRe = """(?s)^\s*("[^"]+"|`[^`]+`|[\w$]+)(.*)$""".r
    val (name, afterName) = item match {
      case NameRe(n, rest) => (Dml.unq(n), rest)
      case _ => throw new IllegalArgumentException(
        s"Parser Error: cannot parse column definition: $item")
    }
    val nameEnd = item.length - afterName.length
    // type runs to the first top-level constraint keyword
    val cut = SqlText(item).findKw(nameEnd, TailKws: _*) match {
      case (-1, _) => item.length
      case (at, _) => at
    }
    val tpe = item.substring(nameEnd, cut).trim
    if (tpe.isEmpty) throw new IllegalArgumentException(
      s"Parser Error: column $name is missing a type: $item")
    var default: Option[String] = None
    var tail = item.substring(cut)
    var guard = 0
    while (tail.trim.nonEmpty && guard < 32) {
      guard += 1
      val t = tail.trim
      val tl = t.toLowerCase
      if (tl.startsWith("not null")) { notNull += name; tail = t.substring(8) }
      else if (tl.startsWith("null")) tail = t.substring(4)
      else if (tl.startsWith("primary key")) {
        uniques += UniqueSet(Seq(name), isPk = true); notNull += name
        tail = t.substring(11)
      }
      else if (tl.startsWith("unique")) {
        uniques += UniqueSet(Seq(name), isPk = false); tail = t.substring(6)
      }
      else if (tl.startsWith("check")) {
        val (inner, close) = innerParenSpan(t)
        checks += inner
        tail = t.substring(close + 1)
      }
      else if (tl.startsWith("default")) {
        // DEFAULT expr runs to the next top-level constraint keyword
        val rest = t.substring(7)
        val end = SqlText(rest).findKw(0,
            "not null", "primary key", "unique", "check", "references") match {
          case (-1, _) => rest.length
          case (at, _) => at
        }
        default = Some(rest.substring(0, end).trim)
        tail = rest.substring(end)
      }
      else if (tl.startsWith("references")) {
        // REFERENCES tbl [(col)] — a single-column FK on this column
        val rest = t.substring(10).trim
        val RefRe = """(?s)^("[^"]+"|`[^`]+`|[\w$]+)(\s*\(([^)]*)\))?(.*)$""".r
        tail = rest match {
          case RefRe(ptab, _, pcol, r) =>
            fks += ((Seq(name), Dml.unq(ptab),
              Option(pcol).map(p => Seq(Dml.unq(p.trim)))))
            r
          case _ => ""
        }
      }
      else if (tl.startsWith("collate")) {
        val rest = t.substring(7).trim
        tail = rest.dropWhile(c => !c.isWhitespace)
      }
      else throw new IllegalArgumentException(
        s"Parser Error: cannot parse column constraint tail: $t")
    }
    ColDef(name, tpe, default)
  }

  /** Strip `tablename.` self-qualifiers so CHECK expressions evaluate
    * against any relation alias carrying the table's columns. */
  private def stripSelfQualifier(expr: String, table: String): String = {
    val b = bare(table)
    expr.replaceAll("(?i)(?<![\\w$.])" + java.util.regex.Pattern.quote(b) + "\\s*\\.\\s*", "")
  }

  // ------------------------------------------------------------------
  // enforcement: four probes, each written once
  // ------------------------------------------------------------------

  private val Missing = "does not exist in the referenced table"
  private val Referenced = "is still referenced by a foreign key in a different table"

  private def keyMsg(cols: Seq[String], row: Row): String =
    cols.zipWithIndex.map { case (c, i) =>
      val v = row.get(i)
      s"$c: ${if (v == null) "NULL" else v.toString}"
    }.mkString(", ")

  private def quotedName(resolved: String): String =
    resolved.split('.').map(p => s"`$p`").mkString(".")

  private def keyCols(cols: Seq[String], alias: String = ""): String =
    cols.map(c => alias + Dml.q(c)).mkString(", ")

  private def keyNotNull(cols: Seq[String], alias: String = ""): String =
    cols.map(c => s"$alias${Dml.q(c)} IS NOT NULL").mkString(" AND ")

  private def keyEq(cols: Seq[String], a: String, bCols: Seq[String], b: String): String =
    cols.zip(bCols).map { case (c, bc) => s"$a.${Dml.q(c)} = $b.${Dml.q(bc)}" }
      .mkString(" AND ")

  /** Probe 1: one aggregate over `rel` answers every NOT NULL and CHECK
    * constraint of `tc`, and for each of `uniques` whether a non-NULL key
    * repeats inside `rel` (non-NULL keys against distinct keys: a key
    * with a NULL part never clashes). Throws the first NOT NULL failure,
    * then the first CHECK failure, in declared order; returns the sets
    * whose keys repeat. */
  private def rowViolations(spark: SparkSession, tc: TableConstraints,
      rel: String, uniques: Seq[UniqueSet]): Seq[UniqueSet] = {
    val nulls = tc.notNull.map(c => s"count_if(${Dml.q(c)} IS NULL)")
    val checks = tc.checks.map(ck => s"count_if(NOT coalesce(($ck), true))")
    val repeats = uniques.map(u =>
      s"count_if(${keyNotNull(u.cols)}) - count(DISTINCT ${keyCols(u.cols)})")
    val counts = nulls ++ checks ++ repeats
    if (counts.isEmpty) return Nil
    val r = Dml.gsql(spark, s"SELECT ${counts.mkString(", ")} FROM $rel").head()
    def hit(i: Int) = r.getLong(i) > 0
    tc.notNull.indices.find(hit).foreach(i => throw new IllegalArgumentException(
      s"Constraint Error: NOT NULL constraint failed: ${tc.table}.${tc.notNull(i)}"))
    tc.checks.indices.find(i => hit(nulls.length + i)).foreach(i =>
      throw new IllegalArgumentException(
        s"Constraint Error: CHECK constraint failed on table ${tc.table} with expression (${tc.checks(i)})"))
    uniques.indices.filter(i => hit(nulls.length + checks.length + i)).map(uniques)
  }

  /** Probe 2: a row of `childRel` whose non-NULL `fk.cols` key no row of
    * `parentRel` holds in `fk.parentCols` (test/sql/constraints/
    * foreignkey) fails, worded by `why`: `Missing` from the child side,
    * `Referenced` from the parent side. One anti-join — at scale a
    * broadcast of the (small) parent key set or one hash shuffle, the
    * cost class of the reference's index probe. */
  private def rejectOrphans(spark: SparkSession, childRel: String,
      parentRel: String, fk: ForeignKey, why: String): Unit = {
    val (b, p) = (Dml.G + "b", Dml.G + "p")
    Dml.gsql(spark,
      s"""SELECT ${keyCols(fk.cols, b + ".")} FROM $childRel AS $b
         |WHERE ${keyNotNull(fk.cols, b + ".")} AND NOT EXISTS (
         |  SELECT 1 FROM $parentRel AS $p WHERE ${keyEq(fk.parentCols, p, fk.cols, b)})
         |LIMIT 1""".stripMargin).collect().headOption.foreach { r =>
      throw new IllegalArgumentException("Constraint Error: Violates foreign key " +
        s"""constraint because key "${keyMsg(fk.parentCols, r)}" $why""")
    }
  }

  /** A key clash, worded by where it happens (art.cpp): a key a row
    * already in the table holds, or a key repeated among the statement's
    * own new rows. */
  private def keyClash(u: UniqueSet, key: String, existing: Boolean): Nothing =
    throw new IllegalArgumentException(
      if (existing) s"""Constraint Error: Duplicate key "$key" violates """ +
        s"${if (u.isPk) "primary key" else "unique"} constraint."
      else "Constraint Error: PRIMARY KEY or UNIQUE constraint violation: " +
        s"""duplicate key "$key"""")

  /** Probe 3: name a non-NULL key of `u` repeated in `rel`; runs once
    * probe 1 has found one. `held` (rows that were already in the table)
    * decides the wording, and a key one of them holds is named first. */
  private def rejectRepeatedKey(spark: SparkSession, rel: String, u: UniqueSet,
      held: Option[String]): Nothing = {
    val dups = s"""SELECT ${keyCols(u.cols)} FROM $rel WHERE ${keyNotNull(u.cols)}
                  |GROUP BY ${keyCols(u.cols)} HAVING count(*) > 1""".stripMargin
    val (d, h) = (Dml.G + "d", Dml.G + "h")
    val r = Dml.gsql(spark, held match {
      case None => s"SELECT *, false FROM ($dups) LIMIT 1"
      case Some(rows) =>
        s"""SELECT $d.*, $h.${Dml.q(u.cols.head)} IS NOT NULL AS ${Dml.G}held
           |FROM ($dups) AS $d LEFT JOIN $rows AS $h ON ${keyEq(u.cols, d, u.cols, h)}
           |ORDER BY ${Dml.G}held DESC LIMIT 1""".stripMargin
    }).head()
    keyClash(u, keyMsg(u.cols, r), existing = r.getBoolean(u.cols.length))
  }

  /** Probe 4 (append): a new row of `batch` whose key of `u` a row of
    * `table` already holds. */
  private def rejectExistingKey(spark: SparkSession, batch: String, table: String,
      u: UniqueSet): Unit = {
    val (b, t) = (Dml.G + "b", Dml.G + "t")
    Dml.gsql(spark,
      s"""SELECT ${keyCols(u.cols, b + ".")} FROM $batch AS $b
         |JOIN $table AS $t ON ${keyEq(u.cols, b, u.cols, t)} LIMIT 1""".stripMargin)
      .collect().headOption.foreach(r => keyClash(u, keyMsg(u.cols, r), existing = true))
  }

  /** Existing contents of `table` must satisfy constraints about to be
    * declared (ALTER TABLE … SET NOT NULL / ADD PRIMARY KEY, CREATE UNIQUE
    * INDEX): no NULL in `notNull`, no repeated non-NULL `key`
    * (art_index.cpp:106). */
  def verifyExisting(spark: SparkSession, table: String, notNull: Seq[String],
      key: Seq[String]): Unit = {
    val tc = TableConstraints(Dml.unq(table.split('.').last), notNull, Nil, Nil)
    if (rowViolations(spark, tc, table,
        if (key.isEmpty) Nil else Seq(UniqueSet(key, isPk = false))).nonEmpty)
      throw new IllegalArgumentException(
        "Constraint Error: Data contains duplicates on indexed column(s)")
  }

  /** Parent-side FK enforcement: before `table`'s contents are replaced
    * by `df`, every child row's key must still exist (a DELETE/UPDATE
    * that removes a referenced key is rejected — the reference's
    * RESTRICT default, test_fk_chain.test). */
  def verifyParentRewrite(spark: SparkSession, table: String,
      df: DataFrame): Unit = {
    val kids = childrenOf(spark, table)
    if (kids.isEmpty) return
    val vn = Dml.G + "fk_parent_verify"
    df.createOrReplaceTempView(vn)
    for ((childName, _, fk) <- kids)
      rejectOrphans(spark, quotedName(childName), vn, fk, Referenced)
  }

  /** DROP TABLE guard: a parent with registered children cannot drop
    * (test_fk_chain.test "drop table" section). */
  def rejectDropIfParent(spark: SparkSession, table: String): Unit = {
    val kids = childrenOf(spark, table)
    kids.headOption.foreach { case (childName, _, _) =>
      throw new IllegalArgumentException(
        "Catalog Error: Could not drop the table because this table is " +
          s"""main key table of the table "${childName.split('.').last}"""")
    }
  }

  /** Verify a batch of to-be-appended rows (full target width) in a
    * view named `batch` before any is appended (data_table.cpp
    * VerifyAppendConstraints): NOT NULL, CHECK, FOREIGN KEY, then keys —
    * clashes with `table`'s rows before repeats inside the batch.
    * `skipSets` excludes the unique sets an ON CONFLICT clause already
    * resolved. A self-referencing FK checks the current contents only:
    * the reference's eager check rejects a row referencing a key that
    * arrives in the same statement (test_fk_self_referencing.test). */
  def verifyAppend(spark: SparkSession, tc: TableConstraints, batch: String,
      table: String, skipSets: Set[Seq[String]] = Set.empty): Unit = {
    val uniques = tc.uniques.filterNot(u => skipSets.contains(u.cols.map(_.toLowerCase)))
    val repeated = rowViolations(spark, tc, batch, uniques)
    for (fk <- tc.foreignKeys)
      rejectOrphans(spark, batch, quotedName(fk.parentTable), fk, Missing)
    uniques.foreach(rejectExistingKey(spark, batch, table, _))
    repeated.headOption.foreach(rejectRepeatedKey(spark, batch, _, held = None))
  }

  /** Verify the FULL new contents of a rewritten table (UPDATE / MERGE /
    * upsert DO UPDATE / TRUNCATE) before the swap; `selfTable` (default
    * `tc.table`) still holds the old contents. A rewritten child
    * re-verifies its keys; a self-referencing FK checks against the new
    * contents. */
  def verifyContents(spark: SparkSession, tc: TableConstraints,
      df: DataFrame, selfTable: String = ""): Unit = {
    val vn = Dml.G + "verify_" + tc.table
    df.createOrReplaceTempView(vn)
    val old = if (selfTable.nonEmpty) selfTable else tc.table
    val repeated = rowViolations(spark, tc, vn, tc.uniques)
    // self-reference compares db-qualified names: an FK to a same-named
    // table in a different database is not self-referencing
    val selfResolved = resolvedName(spark, old)
    for (fk <- tc.foreignKeys) {
      if (fk.parentTable == selfResolved) {
        // new rows must reference surviving keys, and the old rows' keys
        // must survive too: the reference's eager delete checks every
        // removed key against the live index, which still holds the
        // other rows of the statement (TRUNCATE of a self-referencing
        // table rejects)
        rejectOrphans(spark, vn, vn, fk, Missing)
        rejectOrphans(spark, quotedName(fk.parentTable), vn, fk, Referenced)
      } else rejectOrphans(spark, vn, quotedName(fk.parentTable), fk, Missing)
    }
    repeated.headOption.foreach { u =>
      // rows already in the table: old rows the statement left unchanged
      // (set operations cannot compare MAP values)
      def hasMap(t: DataType): Boolean = t match {
        case _: MapType => true
        case a: ArrayType => hasMap(a.elementType)
        case st: StructType => st.fields.exists(f => hasMap(f.dataType))
        case _ => false
      }
      val cols = df.schema.fields.filterNot(f => hasMap(f.dataType))
        .map(f => Dml.q(f.name)).mkString(", ")
      val held = s"(SELECT $cols FROM $old INTERSECT SELECT $cols FROM $vn)"
      rejectRepeatedKey(spark, vn, u, Some(held))
    }
  }
}
