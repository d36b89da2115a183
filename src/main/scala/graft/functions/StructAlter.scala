package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ALTER TABLE on NESTED columns — dotted field paths through STRUCT /
  * LIST / MAP types (reference `test/sql/alter/{struct,list,map}/`):
  *
  *   ALTER TABLE t ADD COLUMN s.k INTEGER [DEFAULT e]
  *   ALTER TABLE t DROP COLUMN s.element.k       -- list elements
  *   ALTER TABLE t RENAME COLUMN s.value.j TO x  -- map values
  *
  * Path segments name struct fields; `element` steps into a LIST's
  * element type, `key`/`value` into a MAP's key/value types. The edit
  * rebuilds only the ONE affected top-level column (a projection over
  * `transform`/`transform_values`/`map_from_arrays` lambdas — row-local,
  * whole-stage-codegen'd, so the rewrite is a single scan at any scale);
  * all other columns pass through untouched.
  */
private[functions] object StructAlter {

  private def err(msg: String) = throw new IllegalArgumentException(msg)

  /** Rebuild a struct VALUE with edited fields, preserving declared
    * order and NULL-ness of the struct itself. */
  private def rebuildStruct(c: Column, st: StructType,
      fields: Seq[(String, Column)]): Column = {
    val built = struct(fields.map { case (n, v) => v.as(n) }: _*)
    val _ = st
    when(c.isNotNull, built)
  }

  /** Navigate `path` inside column `c` of type `dt` and apply `edit` to
    * the struct that CONTAINS the final field. `top` is the top-level
    * column name (error messages), `owner` the last navigated segment. */
  private def editAt(top: String, owner: String, c: Column, dt: DataType,
      path: Seq[String], edit: (Column, StructType) => Column): Column =
    dt match {
      case st: StructType if path.isEmpty => edit(c, st)
      case st: StructType =>
        val seg = path.head
        val f = st.fields.find(_.name.equalsIgnoreCase(seg)).getOrElse(
          err(s"""Binder Error: Column "$seg" does not exist in "$owner"!"""))
        rebuildStruct(c, st, st.fields.toSeq.map { g =>
          if (g.name.equalsIgnoreCase(seg))
            g.name -> editAt(top, g.name, c.getField(g.name), f.dataType,
              path.tail, edit)
          else g.name -> c.getField(g.name)
        })
      case at: ArrayType if path.nonEmpty && path.head.equalsIgnoreCase("element") =>
        transform(c, x => editAt(top, owner, x, at.elementType, path.tail, edit))
      case mt: MapType if path.nonEmpty && path.head.equalsIgnoreCase("key") =>
        map_from_arrays(
          transform(map_keys(c), k => editAt(top, owner, k, mt.keyType, path.tail, edit)),
          map_values(c))
      case mt: MapType if path.nonEmpty && path.head.equalsIgnoreCase("value") =>
        transform_values(c, (_, v) => editAt(top, owner, v, mt.valueType, path.tail, edit))
      case _ =>
        err(s"Binder Error: Column $owner is not a struct - " +
          "ALTER TABLE can only add fields to structs")
    }

  /** The statically-resolved StructType at the end of the navigation —
    * used for existence pre-checks before any rebuild. */
  private def containerType(top: String, owner: String, dt: DataType,
      path: Seq[String], forDrop: Boolean): StructType = dt match {
    case st: StructType if path.isEmpty => st
    case st: StructType =>
      val seg = path.head
      val f = st.fields.find(_.name.equalsIgnoreCase(seg)).getOrElse(
        err(s"""Binder Error: Column "$seg" does not exist in "$owner"!"""))
      containerType(top, seg, f.dataType, path.tail, forDrop)
    case at: ArrayType if path.nonEmpty && path.head.equalsIgnoreCase("element") =>
      containerType(top, owner, at.elementType, path.tail, forDrop)
    case mt: MapType if path.nonEmpty && path.head.equalsIgnoreCase("key") =>
      containerType(top, owner, mt.keyType, path.tail, forDrop)
    case mt: MapType if path.nonEmpty && path.head.equalsIgnoreCase("value") =>
      containerType(top, owner, mt.valueType, path.tail, forDrop)
    case _ if forDrop =>
      err(s"""Catalog Error: Cannot drop field from column "$top" - not a nested type""")
    case _ =>
      err(s"Binder Error: Column $owner is not a struct - " +
        "ALTER TABLE can only add fields to structs")
  }

  private def topField(spark: SparkSession, table: String,
      name: String): StructField =
    Alter.fieldsOf(spark, table).find(_.name.equalsIgnoreCase(name)).getOrElse(
      err(s"""Binder Error: Table "${Dml.unq(table.split('.').last)}" does not have a column with name "$name""""))

  /** Rebuild the table with ONE top-level column replaced. */
  private def applyEdit(spark: SparkSession, table: String, topName: String,
      newCol: Column): Unit = {
    val fs = Alter.fieldsOf(spark, table)
    val projected = spark.table(table).select(fs.map { g =>
      if (g.name.equalsIgnoreCase(topName)) newCol.as(g.name, g.metadata)
      else col(s"`${g.name}`").as(g.name, g.metadata)
    }.toIndexedSeq: _*)
    Alter.rebuild(spark, table, projected)
  }

  def add(spark: SparkSession, table: String, ifNotExists: Boolean,
      path: Seq[String], rest: String): DataFrame = {
    val topF = topField(spark, table, path.head)
    val (navigate, newName) = (path.tail.dropRight(1), path.last)
    val container = containerType(topF.name, topF.name, topF.dataType,
      navigate, forDrop = false)
    if (container.fields.exists(_.name.equalsIgnoreCase(newName))) {
      if (ifNotExists) return spark.emptyDataFrame
      err(s"""Binder Error: Field with name "$newName" already exists""")
    }
    // rest = type [DEFAULT expr] — same split as flat ADD COLUMN
    val DefRe = """(?is)^(.*?)\s+DEFAULT\s+(.+)$""".r
    val (tpe, defTxt) = rest match {
      case DefRe(t, d) => (t.trim, Some(d.trim))
      case _ => (rest.trim, None)
    }
    val value = defTxt.map(d => expr(d)).getOrElse(lit(null))
      .cast(Alter.typeOf(spark, tpe))
    val edited = editAt(topF.name, topF.name, col(s"`${topF.name}`"),
      topF.dataType, navigate,
      (c, st) => rebuildStruct(c, st,
        st.fields.toSeq.map(g => g.name -> c.getField(g.name)) :+ (newName -> value)))
    applyEdit(spark, table, topF.name, edited)
    spark.emptyDataFrame
  }

  def drop(spark: SparkSession, table: String, ifExists: Boolean,
      path: Seq[String]): DataFrame = {
    val topF =
      try topField(spark, table, path.head)
      catch { case e: IllegalArgumentException if ifExists => return spark.emptyDataFrame }
    val (navigate, target) = (path.tail.dropRight(1), path.last)
    val container = containerType(topF.name, topF.name, topF.dataType,
      navigate, forDrop = true)
    if (!container.fields.exists(_.name.equalsIgnoreCase(target))) {
      if (ifExists) return spark.emptyDataFrame
      err(s"""Binder Error: Column "$target" does not exist in "${navigate.lastOption.getOrElse(topF.name)}"!""")
    }
    if (container.fields.length == 1)
      err(s"""Catalog Error: Cannot drop field "$target" from column "${topF.name}" - it is the last field of the struct""")
    val edited = editAt(topF.name, topF.name, col(s"`${topF.name}`"),
      topF.dataType, navigate,
      (c, st) => rebuildStruct(c, st,
        st.fields.toSeq.filterNot(_.name.equalsIgnoreCase(target))
          .map(g => g.name -> c.getField(g.name))))
    applyEdit(spark, table, topF.name, edited)
    spark.emptyDataFrame
  }

  def rename(spark: SparkSession, table: String, path: Seq[String],
      newName: String): DataFrame = {
    val topF = topField(spark, table, path.head)
    val (navigate, target) = (path.tail.dropRight(1), path.last)
    val container = containerType(topF.name, topF.name, topF.dataType,
      navigate, forDrop = false)
    if (!container.fields.exists(_.name.equalsIgnoreCase(target)))
      err(s"""Binder Error: Column "$target" does not exist in "${navigate.lastOption.getOrElse(topF.name)}"!""")
    if (container.fields.exists(_.name.equalsIgnoreCase(newName)))
      err(s"""Binder Error: Field with name "$newName" already exists""")
    val edited = editAt(topF.name, topF.name, col(s"`${topF.name}`"),
      topF.dataType, navigate,
      (c, st) => rebuildStruct(c, st,
        st.fields.toSeq.map(g =>
          (if (g.name.equalsIgnoreCase(target)) newName else g.name) ->
            c.getField(g.name))))
    applyEdit(spark, table, topF.name, edited)
    spark.emptyDataFrame
  }
}
