package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** ALTER TABLE column surface — RENAME/ADD/DROP COLUMN, ALTER TYPE
  * (incl. USING), SET/DROP DEFAULT, SET/DROP NOT NULL, ADD PRIMARY KEY,
  * RENAME TO.
  *
  * Reference semantics: `src/parser/statement/alter_statement` forms and
  * the `test/sql/alter/{rename_col,add_col,drop_col,alter_type,default,
  * alter_col,add_pk,rename_table}` suites — one ALTER command per
  * statement, IF (NOT) EXISTS soft-fails, constraint dependencies block
  * DROP COLUMN (multi-column CHECK/UNIQUE referencing the column), and
  * renames follow into CHECK expressions and key sets.
  *
  * Execution strategy, chosen per action:
  *  - metadata-only actions (ADD COLUMN, SET/DROP DEFAULT, RENAME TO)
  *    lower onto Spark's native ALTER DDL — catalog-only, no data
  *    movement at any scale;
  *  - actions Spark's v1 tables cannot express (RENAME COLUMN, DROP
  *    COLUMN, ALTER TYPE, and non-foldable defaults Spark's DDL
  *    analyzer rejects) rebuild through Dml.replaceFiles: one
  *    sequential write of the data to a fresh directory, then a catalog
  *    swap — the same cost class as the reference's in-place column
  *    rewrite. On a v2 lakehouse catalog these become metadata-only too;
  *    the rebuild is the v1 fallback.
  *  - constraint-registry actions (SET/DROP NOT NULL, ADD PRIMARY KEY)
  *    verify existing contents with Constraints.verifyExisting (one
  *    aggregate), then update the session registry
  *    graft.functions.Constraints reads at DML time.
  */
object Alter {

  private val Ident = """(?:"[^"]+"|`[^`]+`|[\w$]+)"""
  private val QIdent = s"""$Ident(?:\\s*\\.\\s*$Ident)*"""
  private val Head =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+(IF\\s+EXISTS\\s+)?($QIdent)\\s+(.*?)\\s*;?\\s*$$""".r
  private val ViewHead =
    s"""(?is)^\\s*ALTER\\s+VIEW\\s+(IF\\s+EXISTS\\s+)?($QIdent)\\s+(.*?)\\s*;?\\s*$$""".r

  def matches(sql: String): Boolean =
    Head.findFirstMatchIn(sql).isDefined || ViewHead.findFirstMatchIn(sql).isDefined

  def execute(spark: SparkSession, sql: String): DataFrame = {
    ViewHead.findFirstMatchIn(sql).foreach { vm =>
      return executeView(spark, vm.group(1) != null, vm.group(2), vm.group(3).trim)
    }
    val m = Head.findFirstMatchIn(sql).getOrElse(
      throw new IllegalArgumentException(s"Parser Error: not an ALTER TABLE: $sql"))
    val ifExists = m.group(1) != null
    val table = m.group(2)
    val action = m.group(3).trim
    // one command per statement (alter_statement transformer)
    locally {
      val t = SqlText(action)
      var i = 0
      while (i < action.length) {
        if (action.charAt(i) == ',' && t.depth(i) == 0 && t.code(i) &&
            """(?is)^\s*(ADD|DROP|ALTER|RENAME)\b""".r
              .findFirstIn(action.substring(i + 1)).isDefined)
          throw new IllegalArgumentException(
            "Parser Error: Only one ALTER command per statement is supported")
        i += 1
      }
    }
    if (!spark.catalog.tableExists(table.replace("\"", "`"))) {
      if (ifExists) return spark.emptyDataFrame
      throw new IllegalArgumentException(
        s"Catalog Error: Table with name ${Dml.unq(table.split('.').last)} does not exist!")
    }
    // views (incl. the importer's temp-view lowering of CREATE VIEW)
    // reject — EXCEPT RENAME TO, which the reference's ALTER TABLE
    // applies to any catalog entry (rename_table_view.test renames a
    // view through ALTER TABLE). Importer-fused base tables are never
    // column-ALTER targets — a table named in ALTER TABLE is excluded
    // from view folding.
    locally {
      val tt = Dml.tableType(spark, table).getOrElse("MANAGED")
      val isRenameTable =
        """(?is)^RENAME\s+TO\b""".r.findFirstIn(action).isDefined
      if ((tt == "VIEW" || tt == "TEMPORARY") && !isRenameTable)
        throw new IllegalArgumentException(
          s"Catalog Error: ${Dml.unq(table.split('.').last)} is a view, not a table — use ALTER VIEW")
    }

    val RenameTo = """(?is)^RENAME\s+TO\s+(\S+)\s*$""".r
    val PIdent = s"""$Ident(?:\\s*\\.\\s*$Ident)*""" // dotted field paths
    val RenameCol =
      s"""(?is)^RENAME\\s+(?:COLUMN\\s+)?($PIdent)\\s+TO\\s+($Ident)\\s*$$""".r
    val AddPk = """(?is)^ADD\s+PRIMARY\s+KEY\s*\((.*)\)\s*$""".r
    val AddCol =
      s"""(?is)^ADD\\s+(?:COLUMN\\s+)?(IF\\s+NOT\\s+EXISTS\\s+)?($PIdent)\\s+(.+)$$""".r
    val DropCol =
      s"""(?is)^DROP\\s+(?:COLUMN\\s+)?(IF\\s+EXISTS\\s+)?($PIdent)(\\s+CASCADE|\\s+RESTRICT)?\\s*$$""".r
    val AlterCol =
      s"""(?is)^ALTER\\s+(?:COLUMN\\s+)?($Ident)\\s+(.+)$$""".r

    def splitPath(raw: String): Seq[String] =
      raw.split('.').map(p => Dml.unq(p.trim)).toSeq

    action match {
      case RenameTo(newName)    => renameTable(spark, table, Dml.unq(newName))
      case RenameCol(oldC, newC) if oldC.contains(".") =>
        StructAlter.rename(spark, table, splitPath(oldC), Dml.unq(newC))
      case RenameCol(oldC, newC) => renameColumn(spark, table, Dml.unq(oldC), Dml.unq(newC))
      case AddPk(colList) =>
        addPrimaryKey(spark, table, SqlText.splitTop(colList).map(Dml.unq))
      case AddCol(ine, name, rest) if name.contains(".") =>
        StructAlter.add(spark, table, ine != null, splitPath(name), rest.trim)
      case AddCol(ine, name, rest) =>
        addColumn(spark, table, ine != null, Dml.unq(name), rest.trim)
      case DropCol(ife, name, mode) if name.contains(".") =>
        StructAlter.drop(spark, table, ife != null, splitPath(name))
      case DropCol(ife, name, mode) =>
        dropColumn(spark, table, ife != null, Dml.unq(name),
          cascade = mode != null && mode.trim.equalsIgnoreCase("cascade"))
      case AlterCol(name, tail) => alterColumn(spark, table, Dml.unq(name), tail.trim)
      case _ => throw new IllegalArgumentException(
        s"Parser Error: unsupported ALTER TABLE action: $action")
    }
  }

  /** ALTER VIEW v RENAME TO v2 (reference rename_view suite): view
    * entries only — a base-table target is a binder error. */
  private def executeView(spark: SparkSession, ifExists: Boolean,
      view: String, action: String): DataFrame = {
    val bare = Dml.unq(view.split('.').last)
    if (!spark.catalog.tableExists(view.replace("\"", "`"))) {
      if (ifExists) return spark.emptyDataFrame
      throw new IllegalArgumentException(
        s"Catalog Error: View with name $bare does not exist!")
    }
    val tt = Dml.tableType(spark, view).getOrElse("MANAGED")
    if (tt != "VIEW" && tt != "TEMPORARY")
      throw new IllegalArgumentException(
        s"Binder Error: Existing object $bare is of type Table, not View — use ALTER TABLE")
    val RenameTo = """(?is)^RENAME\s+TO\s+(\S+)\s*$""".r
    action match {
      case RenameTo(newName0) =>
        val newName = Dml.unq(newName0)
        if (!newName.equalsIgnoreCase(bare) &&
            spark.catalog.tableExists(s"`$newName`"))
          throw new IllegalArgumentException(
            s"""Catalog Error: Could not rename "$bare" to "$newName": another entry with this name already exists!""")
        if (tt == "TEMPORARY") {
          spark.table(view).createOrReplaceTempView(newName)
          spark.catalog.dropTempView(bare): Unit
        } else spark.sql(s"ALTER VIEW $view RENAME TO `$newName`").collect()
        spark.emptyDataFrame
      case _ => throw new IllegalArgumentException(
        s"Parser Error: unsupported ALTER VIEW action: $action")
    }
  }

  // ------------------------------------------------------------------
  // shared plumbing
  // ------------------------------------------------------------------

  private[functions] def fieldsOf(spark: SparkSession, table: String): Array[StructField] =
    spark.table(table).schema.fields

  private def findCol(spark: SparkSession, table: String, c: String): Option[StructField] =
    fieldsOf(spark, table).find(_.name.equalsIgnoreCase(c))

  private def requireCol(spark: SparkSession, table: String, c: String): StructField =
    findCol(spark, table, c).getOrElse(throw new IllegalArgumentException(
      s"""Binder Error: Table "${Dml.unq(table.split('.').last)}" does not have a column with name "$c""""))

  /** Replace the table's contents AND schema with `newDf` (the
    * projection reads the old files): the same write-once commit as DML,
    * so the data is written exactly once and the table's other metadata
    * (TBLPROPERTIES, provider) stays. */
  private[functions] def rebuild(spark: SparkSession, table: String, newDf: DataFrame): Unit =
    if (Dml.isTempView(spark, table))
      newDf.localCheckpoint(true).createOrReplaceTempView(Dml.unq(table.split('.').last))
    else Dml.replaceFiles(spark, table, newDf,
      Some(StructType(newDf.schema.map(_.copy(nullable = true)))))(_ => ())

  /** All columns as Columns, preserving per-field metadata (DEFAULTs). */
  private def cols(fs: Array[StructField]): Array[Column] =
    fs.map(f => col(s"`${f.name}`").as(f.name, f.metadata))

  /** Metadata for a default Spark's DDL analyzer rejects (non-foldable,
    * e.g. nextval): stored under the engine's GRAFT_DEFAULT key, which
    * Spark ignores but Dml.defaultExpr honors on the insert path. The
    * table also gets a (possibly empty) Constraints registration so
    * plain INSERTs route through Dml. */
  private def graftDefaultMd(base: Metadata, d: String): Metadata =
    new MetadataBuilder().withMetadata(base)
      .remove("CURRENT_DEFAULT").remove("EXISTS_DEFAULT")
      .putString("GRAFT_DEFAULT", d).build()

  private def ensureRegistered(spark: SparkSession, table: String): Unit =
    if (Constraints.of(spark, table).isEmpty)
      Constraints.registerAt(spark, table, Constraints.TableConstraints(
        Dml.unq(table.split('.').last).toLowerCase, Nil, Nil, Nil))

  /** Spark's DDL analyzer EVALUATES a default while checking it is
    * constant — for stateful expressions (nextval) that would burn a
    * sequence value even when the DDL is then rejected. Route those
    * straight to the rebuild path. */
  private[functions] def nonFoldableDefault(d: String): Boolean =
    """(?i)\b(nextval|currval|random|uuid|gen_random_uuid|now|current_timestamp)\s*\("""
      .r.findFirstIn(d).isDefined

  private def rejectGenerated(spark: SparkSession, table: String,
      name: String, verb: String): Unit =
    Constraints.of(spark, table).foreach { tc =>
      if (tc.generated.exists(_.name.equalsIgnoreCase(name)))
        throw new IllegalArgumentException(
          s"""Binder Error: Cannot $verb column "$name" - it is a generated column!""")
    }

  /** True when `ident` appears as a standalone identifier in expr text. */
  private def mentions(exprText: String, ident: String): Boolean =
    ("(?i)(?<![\\w$])" + java.util.regex.Pattern.quote(ident.toLowerCase) +
      "(?![\\w$])").r.findFirstIn(exprText.toLowerCase).isDefined

  private def renameInExpr(exprText: String, oldC: String, newC: String): String =
    exprText.replaceAll(
      "(?i)(?<![\\w$])" + java.util.regex.Pattern.quote(oldC) + "(?![\\w$])",
      java.util.regex.Matcher.quoteReplacement(newC))

  private def done(spark: SparkSession): DataFrame = spark.emptyDataFrame

  // ------------------------------------------------------------------
  // actions
  // ------------------------------------------------------------------

  /** FK involvement blocks structural ALTERs (reference
    * test_fk_alter.test / test_fk_temporary.test): renames/drops of a
    * table or column participating in a FOREIGN KEY are rejected. */
  private def fkInvolvement(spark: SparkSession, table: String)
      : (Seq[Constraints.ForeignKey], Seq[(String, Constraints.TableConstraints, Constraints.ForeignKey)]) =
    (Constraints.of(spark, table).map(_.foreignKeys).getOrElse(Nil),
      Constraints.childrenOf(spark, table))

  private def rejectFkColumn(spark: SparkSession, table: String,
      name: String): Unit = {
    val (own, kids) = fkInvolvement(spark, table)
    val involved =
      own.exists(_.cols.exists(_.equalsIgnoreCase(name))) ||
        kids.exists(_._3.parentCols.exists(_.equalsIgnoreCase(name)))
    if (involved) throw new IllegalArgumentException(
      s"""Dependency Error: Cannot alter column "$name" because there is a FOREIGN KEY constraint that depends on it.""")
  }

  private def renameTable(spark: SparkSession, table: String, newName: String): DataFrame = {
    if (Constraints.hasIndexOn(spark, table))
      throw new IllegalArgumentException(
        s"""Dependency Error: Cannot alter entry "${Dml.unq(table.split('.').last)}" because there are entries that depend on it.""")
    // only a referenced PARENT blocks its rename (fk_alter.test: the
    // child renames freely, its FK registration moves with it)
    if (fkInvolvement(spark, table)._2.nonEmpty)
      throw new IllegalArgumentException(
        s"""Dependency Error: Cannot alter entry "${Dml.unq(table.split('.').last)}" because there are entries that depend on it.""")
    // Spark's catalog is case-insensitive: a case-only rename is a no-op
    if (Dml.unq(table.split('.').last).equalsIgnoreCase(newName))
      return done(spark)
    if (spark.catalog.tableExists(s"`$newName`"))
      throw new IllegalArgumentException(
        s"""Catalog Error: Could not rename "${Dml.unq(table.split('.').last)}" to "$newName": another entry with this name already exists!""")
    if (Dml.isTempView(spark, table)) {
      val bare = Dml.unq(table.split('.').last)
      spark.table(table).createOrReplaceTempView(newName)
      spark.catalog.dropTempView(bare): Unit
    } else spark.sql(s"ALTER TABLE $table RENAME TO `$newName`").collect()
    Constraints.of(spark, table).foreach { tc =>
      Constraints.unregister(spark, table)
      Constraints.registerAt(spark, newName, tc.copy(table = newName.toLowerCase))
    }
    done(spark)
  }

  private def renameColumn(spark: SparkSession, table: String,
      oldC: String, newC: String): DataFrame = {
    val f = requireCol(spark, table, oldC)
    rejectFkColumn(spark, table, oldC)
    if (findCol(spark, table, newC).isDefined)
      throw new IllegalArgumentException(
        s"""Binder Error: Table "${Dml.unq(table.split('.').last)}" already has a column with name "$newC"""")
    val fs = fieldsOf(spark, table)
    val projected = spark.table(table).select(fs.map { g =>
      if (g.name.equalsIgnoreCase(oldC)) col(s"`${g.name}`").as(newC, g.metadata)
      else col(s"`${g.name}`").as(g.name, g.metadata)
    }.toIndexedSeq: _*)
    rebuild(spark, table, projected)
    Constraints.of(spark, table).foreach { tc =>
      Constraints.registerAt(spark, table, tc.copy(
        notNull = tc.notNull.map(c => if (c.equalsIgnoreCase(oldC)) newC else c),
        checks = tc.checks.map(renameInExpr(_, oldC, newC)),
        uniques = tc.uniques.map(u => u.copy(cols =
          u.cols.map(c => if (c.equalsIgnoreCase(oldC)) newC else c))),
        generated = tc.generated.map(g => g.copy(
          name = if (g.name.equalsIgnoreCase(oldC)) newC else g.name,
          expr = renameInExpr(g.expr, oldC, newC)))))
    }
    val _ = f
    done(spark)
  }

  private def addColumn(spark: SparkSession, table: String, ifNotExists: Boolean,
      name: String, rest: String): DataFrame = {
    if (findCol(spark, table, name).isDefined) {
      if (ifNotExists) return done(spark)
      throw new IllegalArgumentException(
        s"""Catalog Error: Column with name "$name" already exists!""")
    }
    // rest = type [DEFAULT expr]; split at a top-level DEFAULT keyword
    val (defAt, _) = SqlText(rest).findKw(0, "default")
    val tpe = (if (defAt < 0) rest else rest.substring(0, defAt)).trim
    val defTxt = if (defAt < 0) None
                 else Some(rest.substring(defAt + "default".length).trim)
    if (tpe.isEmpty) throw new IllegalArgumentException(
      s"Parser Error: ADD COLUMN $name is missing a type")
    if (Dml.isTempView(spark, table)) {
      val fs = fieldsOf(spark, table)
      val md = defTxt.map(graftDefaultMd(Metadata.empty, _)).getOrElse(Metadata.empty)
      val newCol = defTxt
        .map(d => expr(d).cast(typeOf(spark, tpe)))
        .getOrElse(lit(null).cast(typeOf(spark, tpe)))
      rebuild(spark, table,
        spark.table(table).select((cols(fs) :+ newCol.as(name, md)).toIndexedSeq: _*))
      if (defTxt.isDefined) ensureRegistered(spark, table)
    } else {
      // metadata-only on the catalog; existing rows read the column's
      // EXISTS_DEFAULT (NULL without one) — no data rewrite at any scale.
      // Duck type spellings (VARCHAR, STRUCT(a INT), …) must be
      // normalized to Spark DDL here, same as CREATE TABLE / ALTER TYPE
      val sparkTpe = Dml.normType(tpe)
      val ddl = s"ALTER TABLE $table ADD COLUMNS (`$name` $sparkTpe" +
        defTxt.map(d => s" DEFAULT $d").getOrElse("") + ")"
      try {
        if (defTxt.exists(nonFoldableDefault))
          throw new IllegalStateException("stateful default: rebuild path")
        spark.sql(ddl).collect(): Unit
      }
      catch {
        case _: Throwable if defTxt.isDefined =>
          // Spark's DDL analyzer requires foldable defaults (rejects
          // nextval()); fall back to a per-row rebuild, which is also
          // the reference's semantics for non-constant defaults
          val fs = fieldsOf(spark, table)
          val md = graftDefaultMd(Metadata.empty, defTxt.get)
          val newCol = expr(s"CAST((${defTxt.get}) AS $sparkTpe)").as(name, md)
          rebuild(spark, table,
            spark.table(table).select((cols(fs) :+ newCol).toIndexedSeq: _*))
          ensureRegistered(spark, table)
      }
    }
    done(spark)
  }

  private def dropColumn(spark: SparkSession, table: String, ifExists: Boolean,
      name: String, cascade: Boolean = false): DataFrame = {
    if (findCol(spark, table, name).isEmpty) {
      if (ifExists) return done(spark)
      throw new IllegalArgumentException(
        s"""Binder Error: Table "${Dml.unq(table.split('.').last)}" does not have a column with name "$name"""")
    }
    rejectFkColumn(spark, table, name)
    val fs = fieldsOf(spark, table)
    if (fs.length == 1) throw new IllegalArgumentException(
      "Catalog Error: Cannot drop column: table only has one column remaining!")
    // constraint dependencies (alter_table_info.cpp RemoveColumn):
    //  - any key set containing the column blocks the drop
    //  - a CHECK mentioning the column AND another column blocks it;
    //    a CHECK over only this column is dropped with it
    val tc0 = Constraints.of(spark, table)
    tc0.foreach { tc =>
      for (u <- tc.uniques if u.cols.exists(_.equalsIgnoreCase(name))) {
        val kind = if (u.isPk) s"PRIMARY KEY(${u.cols.mkString(", ")})"
                   else s"UNIQUE(${u.cols.mkString(", ")})"
        throw new IllegalArgumentException(
          s"""Catalog Error: Cannot drop column "$name" because it is referenced in unique constraint $kind""")
      }
      for (ck <- tc.checks if mentions(ck, name)
           if fs.exists(g => !g.name.equalsIgnoreCase(name) && mentions(ck, g.name)))
        throw new IllegalArgumentException(
          s"""Catalog Error: Cannot drop column "$name" because there is a CHECK constraint that depends on it""")
      // a generated column depending on this one blocks the drop
      // (CASCADE drops the dependents too); dropping the generated
      // column itself is always fine
      if (!cascade)
        for (g <- tc.generated
             if !g.name.equalsIgnoreCase(name) && mentions(g.expr, name))
          throw new IllegalArgumentException(
            s"""Catalog Error: Cannot drop column "$name" because there is a generated column that depends on it""")
    }
    // CASCADE: transitively include generated columns whose expressions
    // reference anything being dropped
    val dropped = scala.collection.mutable.Set(name.toLowerCase)
    if (cascade) {
      var grew = true
      while (grew) {
        grew = false
        for (tc <- tc0; g <- tc.generated
             if !dropped(g.name.toLowerCase) &&
               dropped.exists(d => mentions(g.expr, d))) {
          dropped += g.name.toLowerCase; grew = true
        }
      }
    }
    val kept = fs.filterNot(f => dropped(f.name.toLowerCase))
    if (kept.isEmpty) throw new IllegalArgumentException(
      "Catalog Error: Cannot drop column: table only has one column remaining!")
    rebuild(spark, table, spark.table(table).select(cols(kept).toIndexedSeq: _*))
    tc0.foreach { tc =>
      Constraints.registerAt(spark, table, tc.copy(
        notNull = tc.notNull.filterNot(c => dropped(c.toLowerCase)),
        checks = tc.checks.filterNot(ck => dropped.exists(d => mentions(ck, d))),
        generated = tc.generated.filterNot(g => dropped(g.name.toLowerCase))))
    }
    done(spark)
  }

  private def alterColumn(spark: SparkSession, table: String, name: String,
      tail: String): DataFrame = {
    val SetDefault = """(?is)^SET\s+DEFAULT\s+(.+)$""".r
    val DropDefault = """(?is)^DROP\s+DEFAULT\s*$""".r
    val SetNotNull = """(?is)^SET\s+NOT\s+NULL\s*$""".r
    val DropNotNull = """(?is)^DROP\s+NOT\s+NULL\s*$""".r
    val TypeRe = """(?is)^(?:SET\s+DATA\s+TYPE|SET\s+TYPE|TYPE)\s*(.*)$""".r
    tail match {
      case SetDefault(d)  => setDefault(spark, table, name, Some(d.trim))
      case DropDefault()  => setDefault(spark, table, name, None)
      case SetNotNull()   => setNotNull(spark, table, name)
      case DropNotNull()  => dropNotNull(spark, table, name)
      case TypeRe(rest0)  =>
        val rest = rest0.trim
        val UsingRe = """(?is)^(.*?)\s*\bUSING\s+(.+)$""".r
        val (tpe, using) = rest match {
          case UsingRe(t, u) => (t.trim, Some(u.trim))
          case _             => (rest, None)
        }
        if (tpe.isEmpty && using.isEmpty) throw new IllegalArgumentException(
          "Parser Error: Omitting the type is only possible in combination with USING")
        alterType(spark, table, name, if (tpe.isEmpty) None else Some(tpe), using)
      case _ => throw new IllegalArgumentException(
        s"Parser Error: unsupported ALTER COLUMN action: $tail")
    }
  }

  private[functions] def typeOf(spark: SparkSession, tpe: String): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StructType.fromDDL(s"`x` ${Dml.normType(tpe)}").head.dataType

  private def alterType(spark: SparkSession, table: String, name: String,
      tpe: Option[String], using: Option[String]): DataFrame = {
    requireCol(spark, table, name): Unit
    rejectFkColumn(spark, table, name)
    val fs = fieldsOf(spark, table)
    // constraint dependencies block the retype (alter_table_info.cpp):
    // a CHECK, key set, or generated column referencing the column pins
    // its type; retyping a generated column itself updates its registry
    // entry (the rebuild recomputes through the new cast)
    val tcOpt = Constraints.of(spark, table)
    tcOpt.foreach { tc =>
      // the reference rejects retyping generated columns outright
      // (virtual/typechange.test)
      if (tc.generated.exists(_.name.equalsIgnoreCase(name)))
        throw new IllegalArgumentException(
          "Binder Error: Cannot change the type of generated columns in alter statement")
      if (tc.uniques.exists(_.cols.exists(_.equalsIgnoreCase(name))) ||
          tc.checks.exists(mentions(_, name)) ||
          tc.generated.exists(g =>
            !g.name.equalsIgnoreCase(name) && mentions(g.expr, name)))
        throw new IllegalArgumentException(
          s"""Dependency Error: Cannot change the type of column "$name" because there are constraints that depend on it""")
    }
    val newExpr: Column = using match {
      case Some(u) =>
        val e = expr(u)
        tpe.map(t => e.cast(typeOf(spark, t))).getOrElse(e)
      case None => col(s"`$name`").cast(typeOf(spark, tpe.get))
    }
    // alias with the bare table name so USING expressions may qualify
    // columns (alter_type_struct.test: USING ... test.t.t)
    val projected = spark.table(table).as(Dml.unq(table.split('.').last))
      .select(fs.map { g =>
        if (g.name.equalsIgnoreCase(name)) newExpr.as(g.name, g.metadata)
        else col(s"`${g.name}`").as(g.name, g.metadata)
      }.toIndexedSeq: _*)
    rebuild(spark, table, projected)
    done(spark)
  }

  private def setDefault(spark: SparkSession, table: String, name: String,
      default: Option[String]): DataFrame = {
    requireCol(spark, table, name): Unit
    if (default.isDefined) rejectGenerated(spark, table, name, "set a DEFAULT on")
    def viaMetadata(): Unit = {
      val fs = fieldsOf(spark, table)
      val projected = spark.table(table).select(fs.map { g =>
        if (g.name.equalsIgnoreCase(name)) {
          val md = default match {
            case Some(d) => graftDefaultMd(g.metadata, d)
            case None => new MetadataBuilder().withMetadata(g.metadata)
              .remove("CURRENT_DEFAULT").remove("EXISTS_DEFAULT")
              .remove("GRAFT_DEFAULT").build()
          }
          col(s"`${g.name}`").as(g.name, md)
        } else col(s"`${g.name}`").as(g.name, g.metadata)
      }.toIndexedSeq: _*)
      rebuild(spark, table, projected)
      if (default.isDefined) ensureRegistered(spark, table)
    }
    if (Dml.isTempView(spark, table)) viaMetadata()
    else default match {
      case Some(d) =>
        // catalog-only when Spark's analyzer accepts the expression;
        // non-foldable defaults (nextval) go to a metadata rebuild
        // directly — the analyzer would EVALUATE them while rejecting
        try {
          if (nonFoldableDefault(d))
            throw new IllegalStateException("stateful default: rebuild path")
          spark.sql(s"ALTER TABLE $table ALTER COLUMN `$name` SET DEFAULT $d").collect(): Unit
        }
        catch { case _: Throwable => viaMetadata() }
      case None =>
        if (findCol(spark, table, name).exists(_.metadata.contains("GRAFT_DEFAULT")))
          viaMetadata() // strip the side-channel default
        else
          // duckdb's DROP DEFAULT is a no-op when none is declared
          try { spark.sql(s"ALTER TABLE $table ALTER COLUMN `$name` DROP DEFAULT").collect(): Unit }
          catch { case _: Throwable => () }
    }
    done(spark)
  }

  private def setNotNull(spark: SparkSession, table: String, name: String): DataFrame = {
    requireCol(spark, table, name): Unit
    rejectGenerated(spark, table, name, "add NOT NULL to")
    Constraints.verifyExisting(spark, table, Seq(name), Nil)
    val tc = Constraints.of(spark, table).getOrElse(
      Constraints.TableConstraints(
        Dml.unq(table.split('.').last).toLowerCase, Nil, Nil, Nil))
    if (!tc.notNull.exists(_.equalsIgnoreCase(name)))
      Constraints.registerAt(spark, table, tc.copy(notNull = tc.notNull :+ name))
    done(spark)
  }

  private def dropNotNull(spark: SparkSession, table: String, name: String): DataFrame = {
    requireCol(spark, table, name): Unit
    Constraints.of(spark, table).foreach { tc =>
      // a PRIMARY KEY column keeps its NOT NULL (drop is rejected)
      if (tc.uniques.exists(u => u.isPk && u.cols.exists(_.equalsIgnoreCase(name))))
        throw new IllegalArgumentException(
          s"""Constraint Error: Cannot drop NOT NULL from primary key column "$name"""")
      Constraints.registerAt(spark, table,
        tc.copy(notNull = tc.notNull.filterNot(_.equalsIgnoreCase(name))))
    }
    done(spark)
  }

  private def addPrimaryKey(spark: SparkSession, table: String,
      pkCols: Seq[String]): DataFrame = {
    pkCols.foreach(c => rejectGenerated(spark, table, c, "add a PRIMARY KEY on"))
    pkCols.foreach { c =>
      val f = requireCol(spark, table, c)
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType =>
          throw new IllegalArgumentException(
            s"Invalid type Error: Invalid type for index key: ${f.dataType.sql}")
        case _ => ()
      }
    }
    // existing contents must be non-NULL and unique on the key; the
    // reference reports duplicates before a second primary key
    Constraints.verifyExisting(spark, table, pkCols, pkCols)
    val tc = Constraints.of(spark, table).getOrElse(
      Constraints.TableConstraints(
        Dml.unq(table.split('.').last).toLowerCase, Nil, Nil, Nil))
    if (tc.uniques.exists(_.isPk))
      throw new IllegalArgumentException(
        "Catalog Error: table already has a primary key")
    Constraints.registerAt(spark, table, tc.copy(
      notNull = (tc.notNull ++ pkCols.filterNot(c =>
        tc.notNull.exists(_.equalsIgnoreCase(c)))),
      uniques = tc.uniques :+ Constraints.UniqueSet(pkCols, isPk = true)))
    done(spark)
  }
}
