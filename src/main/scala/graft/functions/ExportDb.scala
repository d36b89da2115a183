package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** EXPORT DATABASE / IMPORT DATABASE — the reference's dump/restore
  * surface (`src/execution/operator/persistent/physical_export.cpp`,
  * `test/sql/export/`): EXPORT writes one data file per table plus a
  * `schema.sql` (DDL incl. declared constraints) and a `load.sql`
  * (COPY statements); IMPORT replays them.
  *
  * Layout mirrors physical_export.cpp (`<table>.parquet|csv` per table,
  * schema.sql, load.sql). The data write is the engine's parallel
  * DataFrame writer — at 100 TB each table export is one distributed
  * write job, no driver bottleneck; schema.sql/load.sql are O(#tables)
  * driver-side metadata. IMPORT executes our own emitted scripts
  * statement by statement (graft.engine.Sql).
  *
  * Scope: tables of the CURRENT database (the reference exports the
  * attached catalog it is pointed at). Views/macros/sequences are
  * session objects here, not storage objects — out of the dump, like
  * the reference skips other catalogs' entries.
  */
object ExportDb {

  private val ExportRe =
    """(?is)^\s*EXPORT\s+DATABASE\s+'([^']*)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r
  private val ImportRe =
    """(?is)^\s*IMPORT\s+DATABASE\s+'([^']*)'\s*;?\s*$""".r

  def matches(sql: String): Boolean =
    ExportRe.findFirstMatchIn(sql).isDefined ||
      ImportRe.findFirstMatchIn(sql).isDefined

  /** FORMAT option binder diagnostics mirror physical_export.cpp /
    * test/sql/export/export_database.test: a quoted literal or bare
    * identifier names a copy function; other expressions are
    * "Unsupported parameter type"; a bare FORMAT "requires a
    * parameter"; an unknown name is a missing Copy Function. */
  private def parseFormat(opts: String): String = {
    if (opts == null || opts.trim.isEmpty) return "parquet"
    val m = """(?is)\bFORMAT\b(.*)""".r.findFirstMatchIn(opts).getOrElse(
      return "parquet")
    val rest = m.group(1).trim.stripSuffix(",").trim
    if (rest.isEmpty) throw new IllegalArgumentException(
      "Parser Error: FORMAT requires a parameter, e.g. FORMAT 'csv' or FORMAT 'parquet'")
    val fmt = ("""^'([^']*)'$""".r.findFirstMatchIn(rest) match {
      case Some(mm) => mm.group(1)
      case None => """^(\w+)$""".r.findFirstMatchIn(rest) match {
        case Some(mm) => mm.group(1)
        case None => throw new IllegalArgumentException(
          "Binder Error: Unsupported parameter type for FORMAT: expected e.g. FORMAT 'csv', 'parquet'")
      }
    }).toLowerCase
    fmt match {
      case "csv" | "parquet" | "json" => fmt
      case other => throw new IllegalArgumentException(
        s"Catalog Error: Copy Function with name $other does not exist!")
    }
  }

  def execute(spark: SparkSession, sql: String): DataFrame = sql match {
    case ExportRe(path, opts) => exportDb(spark, path, parseFormat(opts))
    case ImportRe(path) => importDb(spark, path)
    case _ => throw new IllegalArgumentException(s"not an EXPORT/IMPORT statement: $sql")
  }

  private def q(name: String): String = "`" + name.replace("`", "``") + "`"

  private def exportDb(spark: SparkSession, path: String, fmt: String): DataFrame = {
    if (path.isEmpty) throw new IllegalArgumentException(
      "IO Error: cannot export database to an empty path")
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val db = spark.catalog.currentDatabase
    // engine-internal memoized tables (bucketed fixture copies,
    // suite-derived projections — graft.engine.Tables / query packs) are
    // derived artifacts, not user data: a dump that included them would
    // re-import clones the engine then collides with
    val internal = Seq("g_", "cb_", "job_", "fx_", Dml.G)
    val tables = spark.catalog.listTables(db).collect()
      .filter(t => t.tableType != "VIEW" && t.tableType != "TEMPORARY")
      .map(_.name).sorted
      .filterNot(n => internal.exists(n.startsWith))
    val schemaSql = new StringBuilder
    val loadSql = new StringBuilder
    for (t <- tables) {
      val df = spark.table(s"$db.`$t`")
      val tc = Constraints.of(spark, t)
      // reference-style coldefs, re-attaching the registered constraints
      val nn = tc.map(_.notNull.map(_.toLowerCase).toSet).getOrElse(Set.empty)
      val singlePk = tc.toSeq.flatMap(_.uniques)
        .filter(u => u.isPk && u.cols.length == 1).flatMap(_.cols)
        .map(_.toLowerCase).toSet
      val singleUq = tc.toSeq.flatMap(_.uniques)
        .filter(u => !u.isPk && u.cols.length == 1).flatMap(_.cols)
        .map(_.toLowerCase).toSet
      val cols = df.schema.fields.map { f =>
        val tail = new StringBuilder
        // declared DEFAULTs survive the roundtrip (the reference's
        // physical_export.cpp emits them; dropping them turns
        // post-import DEFAULT inserts into NULLs)
        if (f.metadata.contains("CURRENT_DEFAULT") ||
            f.metadata.contains("GRAFT_DEFAULT"))
          tail.append(s" DEFAULT ${Dml.defaultExpr(f)}")
        if (singlePk.contains(f.name.toLowerCase)) tail.append(" PRIMARY KEY")
        else if (nn.contains(f.name.toLowerCase)) tail.append(" NOT NULL")
        if (singleUq.contains(f.name.toLowerCase)) tail.append(" UNIQUE")
        s"${q(f.name)} ${f.dataType.sql}$tail"
      }
      val tableCons =
        tc.toSeq.flatMap(_.uniques).filter(_.cols.length > 1).map(u =>
          (if (u.isPk) "PRIMARY KEY" else "UNIQUE") +
            s" (${u.cols.map(q).mkString(", ")})") ++
          tc.toSeq.flatMap(_.checks).map(c => s"CHECK ($c)")
      schemaSql.append(
        s"CREATE TABLE ${q(t)} (${(cols ++ tableCons).mkString(", ")});\n")
      val dataPath = dir.resolve(s"$t.$fmt").toString
      val w = df.write.mode("overwrite")
      fmt match {
        case "csv" => w.option("header", "true").csv(dataPath)
        case "json" => w.json(dataPath)
        case _ => w.parquet(dataPath)
      }
      loadSql.append(s"COPY ${q(t)} FROM '$dataPath' (FORMAT '$fmt');\n")
    }
    Files.writeString(dir.resolve("schema.sql"), schemaSql.toString)
    Files.writeString(dir.resolve("load.sql"), loadSql.toString)
    spark.emptyDataFrame
  }

  /** Replays our own emitted scripts through the statement front door:
    * schema.sql's CREATE TABLEs register their constraints, load.sql's
    * COPY FROMs append through the verified COPY path. */
  private def importDb(spark: SparkSession, path: String): DataFrame = {
    val dir = Paths.get(path)
    val schemaFile = dir.resolve("schema.sql")
    if (!Files.isRegularFile(schemaFile))
      throw new IllegalArgumentException(
        s"IO Error: cannot import database: $path/schema.sql not found")
    for (file <- Seq(schemaFile, dir.resolve("load.sql")) if Files.isRegularFile(file);
         stmt <- Files.readString(file).split(";\n").map(_.trim) if stmt.nonEmpty)
      graft.engine.Sql.execute(spark, stmt).collect()
    spark.emptyDataFrame
  }
}
