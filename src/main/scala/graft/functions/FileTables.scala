package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** File paths as relations — the reference's replacement scans
  * (`src/main/database_manager.cpp` replacement-scan hook,
  * `extension/csv/include/read_csv.hpp`, `test/sql/copy/csv/`):
  *
  *   FROM 'data.csv'                 (extension-dispatched auto scan)
  *   read_csv('p', sep=.., header=.., columns={..}, names=[..])
  *   read_csv_auto('p', ...)
  *   read_parquet('p') / read_json('p')
  *
  * Lowered at SQL-rewrite time (graft.functions.Macros pipeline): each
  * file reference becomes a session temp view over the engine's
  * DataFrame reader — CSV dialect/header sniffing via
  * graft.sources.CsvSniffer (the same Greenwald-style bounded sample
  * the reference's sniffer uses), parquet/json native. The view is
  * memoized per (path, options) so repeated references plan zero extra
  * jobs. Directories of part files and single files read identically —
  * which is what COPY TO produces at any scale.
  */
object FileTables {

  private val DataExt =
    Seq(".csv", ".tsv", ".parquet", ".json", ".ndjson", ".csv.gz", ".tsv.gz")

  /** cheap gate: most statements have no file relations */
  private def mightHaveFiles(sql: String): Boolean = {
    val l = sql.toLowerCase
    DataExt.exists(l.contains) ||
      l.contains("read_csv") || l.contains("read_parquet") || l.contains("read_json")
  }

  private val views =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[String, String]]())

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Contents fingerprint: a COPY TO between two reads of the same path
    * replaces the part files, and a memoized reader would hold the stale
    * file listing — the memo key carries names+mtimes so rewritten paths
    * re-resolve. */
  private def fingerprint(path: String): String = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      Option(f.listFiles()).map(_.map(x => x.getName + ":" + x.lastModified())
        .sorted.mkString("|")).getOrElse("")
    else f.lastModified().toString
  }

  private def viewFor(spark: SparkSession, key0: String, path: String)(
      mk: => DataFrame): String = {
    val key = key0 + "@" + fingerprint(path)
    val m = views.synchronized {
      views.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, String]())
    }
    m.computeIfAbsent(key, { _ =>
      // collision-free name: Int hashCode collides across distinct
      // (path, options, fingerprint) keys — use a counter instead
      val name = Dml.G + "file_" + viewSeq.incrementAndGet().toString
      mk.createOrReplaceTempView(name)
      name
    })
  }

  // ---- FROM 'path' --------------------------------------------------

  private val FromPathRe =
    """(?is)\b(FROM|JOIN)\s+'([^']+)'""".r

  // ---- read_* table functions ---------------------------------------

  private val ReadFnRe =
    """(?is)\b(read_csv_auto|read_csv|read_parquet|read_json|read_ndjson_auto|read_ndjson)\s*\(""".r

  def rewrite(spark: SparkSession, sql: String): String = {
    if (!mightHaveFiles(sql)) return sql
    SqlText.replaceUnquoted(rewriteReadFns(spark, sql), FromPathRe) { m =>
      val path = m.group(2)
      if (DataExt.exists(path.toLowerCase.endsWith) && exists(path))
        s"${m.group(1)} ${autoView(spark, path)}"
      else m.matched
    }
  }

  private def exists(path: String): Boolean =
    try {
      // glob paths resolve inside the reader (Spark handles * ? [] natively)
      path.exists("*?[".contains(_)) || new java.io.File(path).exists()
    } catch { case _: Throwable => false }

  private def autoView(spark: SparkSession, path: String): String = {
    val l = path.toLowerCase
    viewFor(spark, s"auto:$path", path) {
      if (l.endsWith(".parquet")) spark.read.parquet(path)
      else if (l.endsWith(".json") || l.endsWith(".ndjson")) spark.read.json(path)
      else graft.sources.CsvSniffer.read(spark, path)
    }
  }

  /** duckdb type text → Spark type (the subset the corpus uses). */
  private[functions] def sparkType(t: String): DataType = t.trim.toUpperCase match {
    case "TINYINT" => ByteType
    case "SMALLINT" | "INT2" | "SHORT" => ShortType
    case "INTEGER" | "INT" | "INT4" | "SIGNED" => IntegerType
    case "BIGINT" | "INT8" | "LONG" => LongType
    case "FLOAT" | "REAL" | "FLOAT4" => FloatType
    case "DOUBLE" | "FLOAT8" => DoubleType
    case "BOOLEAN" | "BOOL" => BooleanType
    case "DATE" => DateType
    case "TIMESTAMP" | "DATETIME" => TimestampType
    case "VARCHAR" | "TEXT" | "STRING" | "CHAR" | "BPCHAR" => StringType
    case "BLOB" | "BYTEA" | "BINARY" => BinaryType
    case d if d.startsWith("DECIMAL") || d.startsWith("NUMERIC") =>
      val m = """\((\d+)\s*,\s*(\d+)\)""".r.findFirstMatchIn(d)
      m.map(x => DecimalType(x.group(1).toInt, x.group(2).toInt))
        .getOrElse(DecimalType(18, 3))
    case other => throw new IllegalArgumentException(
      s"Binder Error: Unrecognized type for read_csv columns: $other")
  }

  private def rewriteReadFns(spark: SparkSession, sql: String): String = {
    val ms = ReadFnRe.findAllMatchIn(sql)
    if (!ms.hasNext) return sql
    val t = SqlText(sql)
    val sb = new StringBuilder
    var pos = 0
    ms.foreach { m =>
      if (m.start >= pos && t.code(m.start)) {
        val (args, after) = t.argsAt(m.end - 1)
        sb.append(sql.substring(pos, m.start)).append(readFnView(spark, m.group(1).toLowerCase, args))
        pos = after
      }
    }
    sb.append(sql.substring(pos)).toString
  }

  private def readFnView(spark: SparkSession, fn: String, args: Seq[String]): String = {
    if (args.isEmpty) throw new IllegalArgumentException(
      s"Binder Error: $fn requires a file path")
    val path = {
      val p = args.head.trim
      if (!(p.startsWith("'") && p.endsWith("'"))) throw new IllegalArgumentException(
        s"Binder Error: $fn requires a constant path argument")
      p.substring(1, p.length - 1)
    }
    val named = args.tail.map { a =>
      val m = """(?s)^(\w+)\s*(?::?=)\s*(.*)$""".r.findFirstMatchIn(a.trim).getOrElse(
        throw new IllegalArgumentException(
          s"Binder Error: unsupported positional argument for $fn: $a"))
      m.group(1).toLowerCase -> m.group(2).trim
    }
    viewFor(spark, s"$fn:$path:${named.mkString(",")}", path) {
      if (fn == "read_parquet") spark.read.parquet(path)
      else if (fn.startsWith("read_json") || fn.startsWith("read_ndjson"))
        spark.read.json(path)
      else readCsvWithArgs(spark, path, named)
    }
  }

  private def unq(v: String): String = {
    val t = v.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1).replace("''", "'")
        .replace("\\\\t", "\t").replace("\\t", "\t")
        .replace("\\\\n", "\n").replace("\\n", "\n")
    else t
  }

  private def boolOf(v: String): Boolean = {
    val t = unq(v).toLowerCase
    t == "true" || t == "1"
  }

  private def readCsvWithArgs(spark: SparkSession, path: String,
      named: Seq[(String, String)]): DataFrame = {
    var header: Option[Boolean] = None
    var sep: Option[String] = None
    var quote: Option[String] = None
    var escape: Option[String] = None
    var nullStr: Option[String] = None
    var skip = 0
    var columns: Option[Seq[(String, DataType)]] = None
    var names: Option[Seq[String]] = None
    var allVarchar = false
    var filename = false
    for ((k, v) <- named) k match {
      case "header" => header = Some(boolOf(v))
      case "sep" | "delim" | "delimiter" => sep = Some(unq(v))
      case "quote" => quote = Some(unq(v))
      case "escape" => escape = Some(unq(v))
      case "nullstr" | "null" => nullStr = Some(unq(v))
      case "skip" => skip = unq(v).toInt
      case "all_varchar" => allVarchar = boolOf(v)
      case "auto_detect" | "null_padding" | "ignore_errors" | "sample_size" |
           "compression" | "normalize_names" | "parallel" | "buffer_size" |
           "max_line_size" | "dateformat" | "timestampformat" => ()
      case "filename" => filename = boolOf(v)
      case "columns" | "column_types" | "types" | "dtypes" =>
        // {'a': 'INT'} or the importer's named_struct('a', 'INT', ...) form
        val t = v.trim
        val inner =
          if (t.toLowerCase.startsWith("named_struct")) {
            val o = t.indexOf('('); t.substring(o + 1, t.lastIndexOf(')'))
          } else t.stripPrefix("{").stripSuffix("}")
        val parts = SqlText.splitTop(inner)
        val pairs =
          if (t.toLowerCase.startsWith("named_struct"))
            parts.grouped(2).map(g => (unq(g(0)), sparkType(unq(g(1))))).toSeq
          else parts.map { kv =>
            val p = kv.split(":", 2)
            if (p.length != 2) throw new IllegalArgumentException(
              s"Binder Error: read_csv 'columns' requires a name:type map entry, got $kv")
            (unq(p(0)), sparkType(unq(p(1))))
          }
        columns = Some(pairs)
      case "names" | "column_names" =>
        val inner = v.trim.stripPrefix("[").stripSuffix("]")
        names = Some(SqlText.splitTop(inner).map(unq))
      case other => throw new IllegalArgumentException(
        s"Binder Error: unsupported named argument for read_csv: $other")
    }
    // dialect defaults come from the sniffer when unspecified
    lazy val sniffed = graft.sources.CsvSniffer.sniff(spark, path)
    // the sniffer decides the header even under an explicit columns
    // schema (the reference skips a detected header line either way);
    // with header=true + schema Spark skips the line and keeps the
    // declared names
    val hdr = header.getOrElse(sniffed.header)
    var r = spark.read
      .option("header", hdr.toString)
      .option("sep", sep.getOrElse(sniffed.delimiter))
    quote.foreach(q => r = r.option("quote", q))
    escape.foreach(e => r = r.option("escape", e))
    nullStr.foreach(n => r = r.option("nullValue", n))
    if (skip > 0) r = r.option("skipLines", skip.toString)
    val df = columns match {
      case Some(cols) =>
        r.schema(StructType(cols.map { case (n, t) => StructField(n, t) }.toArray)).csv(path)
      case None =>
        val base =
          if (allVarchar) r.option("inferSchema", "false").csv(path)
          else r.option("inferSchema", "true").csv(path)
        base
    }
    val named2 = names match {
      case Some(ns) if ns.length <= df.columns.length =>
        df.toDF((ns ++ df.columns.drop(ns.length)): _*)
      case _ => df
    }
    if (!filename) named2
    else named2.withColumn("filename",
      org.apache.spark.sql.functions.regexp_replace(
        org.apache.spark.sql.functions.input_file_name(), "^file:/*", "/"))
  }
}
