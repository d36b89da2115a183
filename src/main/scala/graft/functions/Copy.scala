package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** COPY ... TO / COPY ... FROM — the reference's bulk import/export
  * statement (`src/execution/operator/persistent/physical_copy_to_file
  * .cpp`, `physical_copy_database.cpp` parse side
  * `src/parser/statement/copy_statement.hpp`, `test/sql/copy/`).
  *
  *   COPY <table | (query)> TO '<path>' [(options)]
  *   COPY <table> [(cols)] FROM '<path>' [(options)]
  *
  * The write side is the engine's parallel DataFrame writer — one
  * distributed job per COPY, no driver funnel; PARTITION_BY maps to
  * `write.partitionBy` (hive layout, identical to the reference's
  * partitioned COPY). The reference writes ONE file at `path`; Spark
  * writes a directory of part files at `path` — every read surface in
  * the engine (FROM 'path', read_csv/read_parquet, COPY FROM) treats
  * the two identically, which is also what a 100 TB export needs
  * (single-file output is a driver bottleneck by construction).
  *
  * The read side appends through the DML layer: rows cast positionally
  * to the target schema and verified against declared constraints
  * (graft.functions.Constraints) before the append, like every other
  * insert path.
  *
  * Options honored: FORMAT csv|parquet|json (default: by path
  * extension, then csv), HEADER, DELIMITER/DELIM/SEP, QUOTE, ESCAPE,
  * NULL, COMPRESSION, PARTITION_BY (cols). Unknown options raise the
  * reference's binder diagnostic.
  */
object Copy {

  private val CopyRe =
    """(?is)^\s*COPY\s+(.*?)\s+(TO|FROM)\s+'([^']*)'\s*(?:WITH\s*)?(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r

  // COPY FROM DATABASE a TO b [(SCHEMA|DATA)] — physical_copy_database.cpp
  private val CopyDbRe =
    """(?is)^\s*COPY\s+FROM\s+DATABASE\s+("[^"]+"|`[^`]+`|[\w$]+)\s+TO\s+("[^"]+"|`[^`]+`|[\w$]+)\s*(?:\(\s*(\w+)\s*\))?\s*;?\s*$""".r

  def matches(sql: String): Boolean =
    CopyDbRe.findFirstMatchIn(sql).isDefined ||
      CopyRe.findFirstMatchIn(sql).isDefined

  private case class Opts(
      format: Option[String], header: Option[Boolean], delim: Option[String],
      quote: Option[String], escape: Option[String], nullStr: Option[String],
      compression: Option[String], partitionBy: Seq[String])

  private def parseBool(v: String): Boolean =
    v.isEmpty || v.equalsIgnoreCase("true") || v == "1" || v.equalsIgnoreCase("'true'")

  private def unlit(v: String): String = {
    val t = v.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1).replace("''", "'")
        // escape sequences arrive backslash-doubled through the dialect
        // pipeline; COPY options want the literal control character
        .replace("\\\\t", "\t").replace("\\t", "\t")
        .replace("\\\\n", "\n").replace("\\n", "\n")
    else t
  }

  private def parseOpts(text: String): Opts = {
    var o = Opts(None, None, None, None, None, None, None, Nil)
    if (text == null || text.trim.isEmpty) return o
    for (item <- SqlText.splitTop(text)) {
      val m = """(?s)^(\w+)\s*(.*)$""".r.findFirstMatchIn(item.trim).getOrElse(
        throw new IllegalArgumentException(s"Parser Error: cannot parse COPY option: $item"))
      val (k, v) = (m.group(1).toLowerCase, m.group(2).trim)
      k match {
        case "format" =>
          if (v.isEmpty) throw new IllegalArgumentException(
            "Parser Error: FORMAT requires a parameter, e.g. FORMAT 'csv' or FORMAT 'parquet'")
          o = o.copy(format = Some(unlit(v).toLowerCase))
        case "header" => o = o.copy(header = Some(parseBool(unlit(v))))
        case "delimiter" | "delim" | "sep" => o = o.copy(delim = Some(unlit(v)))
        case "quote" => o = o.copy(quote = Some(unlit(v)))
        case "escape" => o = o.copy(escape = Some(unlit(v)))
        case "null" | "nullstr" | "null_padding" => o = o.copy(nullStr = Some(unlit(v)))
        case "compression" => o = o.copy(compression = Some(unlit(v).toLowerCase))
        case "partition_by" =>
          val cols = SqlText.splitTop(v.stripPrefix("(").stripSuffix(")")).map(Dml.unq)
          o = o.copy(partitionBy = cols)
        case "overwrite_or_ignore" | "overwrite" | "use_tmp_file" | "per_thread_output" |
             "allow_overwrite" | "auto_detect" | "dateformat" | "timestampformat" |
             "force_quote" | "file_size_bytes" | "return_files" | "return_stats" |
             // physical parquet/csv tuning knobs: layout hints with no
             // semantic effect on the written data — accepted, ignored
             // (Spark's writer makes its own layout decisions)
             "row_group_size" | "row_groups_per_file" | "row_group_size_bytes" |
             "kv_metadata" | "field_ids" | "parquet_version" |
             "dictionary_compression_ratio_threshold" | "dictionary_size_limit" |
             "compression_level" | "string_dictionary_page_size_limit" |
             "bloom_filter_false_positive_ratio" | "write_bloom_filter" |
             "debug_use_openssl" | "binary_as_string" | "prefix" | "suffix" |
             "write_empty_file" | "filename_pattern" | "append" | "write_partition_columns" => () // accepted no-ops
        case other => throw new IllegalArgumentException(
          s"""Binder Error: Unrecognized option for COPY: "$other"""")
      }
    }
    o
  }

  private def formatOf(path: String, o: Opts): String =
    o.format.getOrElse {
      val ext = path.split('.').last.toLowerCase
      if (Set("parquet", "json", "ndjson", "csv").contains(ext))
        (if (ext == "ndjson") "json" else ext)
      else "csv"
    }

  def execute(spark: SparkSession, sql: String): DataFrame = {
    CopyDbRe.findFirstMatchIn(sql).foreach { m =>
      return copyDatabase(spark, Dml.unq(m.group(1)), Dml.unq(m.group(2)),
        Option(m.group(3)).map(_.toLowerCase))
    }
    val m = CopyRe.findFirstMatchIn(sql).getOrElse(
      throw new IllegalArgumentException(s"not a COPY statement: $sql"))
    val (relText, dir, path, optText) =
      (m.group(1).trim, m.group(2).toUpperCase, m.group(3), m.group(4))
    val o = parseOpts(optText)
    val fmt = formatOf(path, o)
    if (!Set("csv", "parquet", "json").contains(fmt))
      throw new IllegalArgumentException(
        s"Catalog Error: Copy Function with name $fmt does not exist!")
    if (dir == "TO") copyTo(spark, relText, path, fmt, o)
    else copyFrom(spark, relText, path, fmt, o)
  }

  /** COPY FROM DATABASE src TO dst: replicate every table (schema, data,
    * and registered constraints) into the target database — the
    * reference's cross-database bulk copy
    * (physical_copy_database.cpp; mode SCHEMA copies structure only). */
  private def copyDatabase(spark: SparkSession, src0: String, dst0: String,
      mode: Option[String]): DataFrame = {
    // the reference's primary in-memory catalog is named "memory"; the
    // engine's is Spark's "default"
    def norm(db: String): String =
      if (db.equalsIgnoreCase("memory")) "default" else db
    val (src, dst) = (norm(src0), norm(dst0))
    for (db <- Seq(src, dst) if !spark.catalog.databaseExists(db))
      throw new IllegalArgumentException(
        s"Catalog Error: database with name \"$db\" does not exist (looked for $db)")
    if (Attach.isReadOnly(spark, dst))
      throw new IllegalArgumentException(
        s"""Invalid Input Error: Cannot write to database "$dst" - it is attached in read-only mode""")
    if (src.equalsIgnoreCase(dst))
      throw new IllegalArgumentException(
        s"""Binder Error: Cannot copy from database "$src" to itself""")
    val tables = spark.catalog.listTables(src).collect()
      .filter(t => t.tableType != "VIEW" && t.tableType != "TEMPORARY")
      .map(_.name).sorted
    var rows = 0L
    for (t <- tables) {
      val from = s"`$src`.`${t.replace("`","``")}`"
      val to = s"`$dst`.`${t.replace("`","``")}`"
      mode match {
        case Some("schema") =>
          spark.sql(s"CREATE TABLE $to LIKE $from").collect()
        case Some("data") =>
          // structure was copied by a prior (SCHEMA) pass; report the
          // rows COPIED (source count), not the target's running total
          spark.sql(s"INSERT INTO $to SELECT * FROM $from").collect()
          rows += spark.table(from).count()
        case _ =>
          // default = schema+data in one pass; an existing target table
          // is an error, like the reference's catalog copy
          spark.sql(s"CREATE TABLE $to AS SELECT * FROM $from").collect()
          rows += spark.table(to).count()
      }
      // declared constraints ride along, re-registered under the TARGET
      // database (registry keys are db-qualified)
      Constraints.of(spark, from).foreach(tc =>
        Constraints.registerAt(spark, to, tc))
    }
    Dml.countDf(spark, rows)
  }

  private def copyTo(spark: SparkSession, relText: String, path: String,
      fmt: String, o: Opts): DataFrame = {
    val df =
      if (relText.startsWith("("))
        Dml.gsql(spark, s"SELECT * FROM ${relText.trim}")
      else Dml.gsql(spark, s"SELECT * FROM $relText")
    val cnt = df.count()
    var w = df.write.mode("overwrite")
    if (o.partitionBy.nonEmpty) w = w.partitionBy(o.partitionBy: _*)
    o.compression.foreach(c => w = w.option("compression", c))
    fmt match {
      case "csv" =>
        w = w.option("header", o.header.getOrElse(true).toString)
        o.delim.foreach(d => w = w.option("sep", d))
        o.quote.foreach(q => w = w.option("quote", q))
        o.escape.foreach(e => w = w.option("escape", e))
        o.nullStr.foreach(n => w = w.option("nullValue", n))
        w.csv(path)
      case "json" => w.json(path)
      case _ => w.parquet(path)
    }
    Dml.countDf(spark, cnt)
  }

  private def copyFrom(spark: SparkSession, relText: String, path: String,
      fmt: String, o: Opts): DataFrame = {
    // target: table name with an optional column list
    val tr = Dml.parseTableRef(relText)
    val givenCols: Option[Seq[String]] =
      """(?s)^\s*\(([^)]*)\)""".r.findFirstMatchIn(tr.rest)
        .map(mm => SqlText.splitTop(mm.group(1)).map(Dml.unq))
    val target = spark.table(tr.name)
    val fields = target.schema.fields.toSeq
    val want = givenCols.getOrElse(fields.map(_.name))
    val wantFields = want.map(c => fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
      throw new IllegalArgumentException(
        s"""Binder Error: Column "$c" does not exist in table ${tr.name}!""")))
    val r = spark.read
    val src = fmt match {
      case "csv" =>
        var rr = r.option("header", o.header.getOrElse(true).toString)
        o.delim.foreach(d => rr = rr.option("sep", d))
        o.quote.foreach(q => rr = rr.option("quote", q))
        o.escape.foreach(e => rr = rr.option("escape", e))
        o.nullStr.foreach(n => rr = rr.option("nullValue", n))
        rr.schema(org.apache.spark.sql.types.StructType(wantFields.toArray)).csv(path)
      case "json" =>
        r.schema(org.apache.spark.sql.types.StructType(wantFields.toArray)).json(path)
      case _ => r.parquet(path)
    }
    // positional cast into the full target width (missing cols take
    // their DEFAULT), then the verified append path
    import org.apache.spark.sql.functions.expr
    val srcNames = src.schema.fields.map(_.name).toSeq
    val byTarget = want.map(_.toLowerCase).zipWithIndex.toMap
    val full = src.select(fields.map { f =>
      byTarget.get(f.name.toLowerCase) match {
        case Some(i) if i < srcNames.length =>
          src(srcNames(i)).cast(f.dataType).as(f.name)
        case _ =>
          expr(s"CAST((${Dml.defaultExpr(f)}) AS ${f.dataType.sql})").as(f.name)
      }
    }: _*)
    val vn = Dml.G + "copy_src"
    Dml.freeze(spark, full).createOrReplaceTempView(vn)
    Constraints.of(spark, tr.name).foreach(tc =>
      Constraints.verifyAppend(spark, tc, vn, tr.name))
    Dml.appendRows(spark, tr.name, fields, vn)
    Dml.countDf(spark, spark.table(vn).count())
  }
}
