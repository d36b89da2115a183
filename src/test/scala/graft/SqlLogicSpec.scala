package graft

import org.scalatest.funsuite.AnyFunSuite

/** sqllogictest runner — same record format as the reference's 3,855
  * `.test` files (`/root/reference/test/sql/...`,
  * `test/sqlite/select*.test_slow`): `statement ok` / `statement error` /
  * `query <types> [sortmode]` blocks with `----`-separated expectations,
  * which may be literal rows (tab-separated, row-wise) or the classic
  * `N values hashing to <md5>` digest.
  *
  * Two corpora run through it:
  *  - `src/test/resources/sql` (top level) — hand-written
  *    engine-independent cases (legacy renderer: whole doubles print as
  *    integers);
  *  - `src/test/resources/sql/ref` — files IMPORTED from the
  *    reference corpus by `tools/import_slt.py` (dialect-adapted,
  *    documented per file). These render values the way the reference's
  *    runner does (result_helper.cpp SQLLogicTestConvertValue): NULL,
  *    `(empty)` for empty strings, true/false booleans, doubles keep
  *    their `.0`. Files listed in `ref/MANIFEST` with a `sqlite:` prefix
  *    additionally use the original-sqlite conversion: floats cast to
  *    BIGINT (round-half-even, duckdb CAST semantics) and booleans print
  *    as 1/0 — required for the `select1.test_slow` md5 hashes to match.
  */
class SqlLogicSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  // legacy renderer for the hand-written corpus
  private def cellLegacy(v: Any): String = v match {
    case null => "NULL"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: Double => if (d == d.floor && !d.isInfinite) d.toLong.toString else d.toString
    case f: Float => cellLegacy(f.toDouble)
    case other => other.toString
  }

  // reference-runner rendering (result_helper.cpp): VARCHAR cast look
  // reference nested-value quoting (vector_cast_helpers.hpp
  // CalculateEscapedStringLength + nested_to_varchar_cast.cpp lookup):
  // a string INSIDE a list/struct/map is single-quoted when empty,
  // whitespace-edged, "null"-like, or containing "'(),:=[]{} — with
  // backslash escapes for ' and \
  private def quoteNested(s: String): String = {
    val special = "\"'(),:=[]{}"
    // JSON-typed values render RAW inside containers (the reference's
    // LIST(JSON) -> VARCHAR cast) — a container-shaped string passes
    // through unquoted
    if (s.length >= 2 &&
        ((s.head == '{' && s.last == '}') || (s.head == '[' && s.last == ']') ||
         (s.head == '"' && s.last == '"'))) // JSON string text renders raw
      return s
    val needs = s.isEmpty || s.head.isWhitespace ||
      (s.length >= 2 && s.last.isWhitespace) ||
      s.equalsIgnoreCase("null") || s.exists(special.contains(_))
    if (!needs) s
    else "'" + s.flatMap {
      case '\'' => "\\'"
      case '\\' => "\\\\"
      case c => c.toString
    } + "'"
  }

  // tz-mode rendering (timezone-area files, MANIFEST "tz:" prefix):
  // TIMESTAMPTZ values print in the SESSION zone with the reference's
  // minimal offset suffix (timestamp.cpp ToString with tz: -08, +05:30,
  // +00:57:56)
  private def tzSuffix(off: java.time.ZoneOffset): String = {
    val t = off.getTotalSeconds
    val sign = if (t < 0) "-" else "+"
    val a = math.abs(t)
    val hh = a / 3600; val mm = a % 3600 / 60; val ss = a % 60
    f"$sign$hh%02d" +
      (if (mm != 0 || ss != 0) f":$mm%02d" else "") +
      (if (ss != 0) f":$ss%02d" else "")
  }

  private def cellTz(t: java.sql.Timestamp): String = {
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone", "UTC"))
    val zdt = t.toInstant.atZone(zone)
    val base = zdt.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val micros = zdt.getNano / 1000
    val frac =
      if (micros == 0) ""
      else "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse
    base + frac + tzSuffix(zdt.getOffset)
  }

  private def cellRef(v: Any, sqliteMode: Boolean, nested: Boolean = false,
      tzMode: Boolean = false): String = v match {
    case null => "NULL"
    case b: Boolean => if (sqliteMode) { if (b) "1" else "0" } else b.toString
    case d: Double =>
      if (sqliteMode) math.rint(d).toLong.toString
      else if (d.isPosInfinity) "inf"
      else if (d.isNegInfinity) "-inf"
      else if (d.isNaN) "nan"
      else d.toString
    case f: Float => cellRef(f.toDouble, sqliteMode)
    case d: java.math.BigDecimal =>
      if (sqliteMode)
        d.setScale(0, java.math.RoundingMode.HALF_EVEN).toBigInteger.toString
      else d.toPlainString
    case s: String =>
      if (nested) quoteNested(s)
      else if (s.isEmpty) "(empty)" else s
    case b: Array[Byte] =>
      // reference blob rendering (blob.cpp ToString): printable ASCII
      // as-is, everything else \xNN uppercase
      b.map { x =>
        val c = x & 0xff
        if (c >= 0x20 && c <= 0x7e && c != '\\') c.toChar.toString
        else f"\\x$c%02X"
      }.mkString
    case s: scala.collection.Seq[_] =>  // LIST renders [a, b, c]
      s.map(e => cellRef(e, sqliteMode, nested = true)).mkString("[", ", ", "]")
    case ci: org.apache.spark.unsafe.types.CalendarInterval =>
      // reference interval rendering (interval.cpp ToString): year/month/
      // day parts, then HH:MM:SS[.ffffff] with hours NOT wrapped to days;
      // zero time omitted when another part exists; all-zero → 00:00:00
      val parts = Vector.newBuilder[String]
      val y = ci.months / 12; val mo = ci.months % 12
      if (y != 0) parts += s"$y year" + (if (math.abs(y) == 1) "" else "s")
      if (mo != 0) parts += s"$mo month" + (if (math.abs(mo) == 1) "" else "s")
      if (ci.days != 0)
        parts += s"${ci.days} day" + (if (math.abs(ci.days) == 1) "" else "s")
      val ps = parts.result()
      val us0 = ci.microseconds
      if (us0 == 0 && ps.nonEmpty) ps.mkString(" ")
      else {
        val neg = us0 < 0
        val a = math.abs(us0)
        val hh = a / 3600000000L
        val mm = a % 3600000000L / 60000000L
        val ss = a % 60000000L / 1000000L
        val us = a % 1000000L
        val t = f"${if (neg) "-" else ""}$hh%02d:$mm%02d:$ss%02d" +
          (if (us == 0) ""
           else "." + f"$us%06d".reverse.dropWhile(_ == '0').reverse)
        (ps :+ t).mkString(" ")
      }
    case p: java.time.Period =>
      // reference interval rendering (interval.cpp ToString):
      // "N year(s) N month(s)", zero interval -> "00:00:00"
      val months = p.toTotalMonths
      val parts = Vector(
        (months / 12, "year"), (months % 12, "month")).collect {
        case (v, u) if v != 0 => s"$v $u" + (if (math.abs(v) == 1) "" else "s")
      }
      if (parts.isEmpty) "00:00:00" else parts.mkString(" ")
    case d: java.time.Duration =>
      // "N day(s) HH:MM:SS[.ffffff]", time omitted when zero and days
      // shown, days omitted when zero
      val total = d.getSeconds * 1000000L + d.getNano / 1000
      val neg = total < 0
      val a = math.abs(total)
      val days = a / 86400000000L
      val rest = a % 86400000000L
      val hh = rest / 3600000000L
      val mm = rest % 3600000000L / 60000000L
      val ss = rest % 60000000L / 1000000L
      val us = rest % 1000000L
      val sb = new StringBuilder
      if (days != 0) sb.append(s"${if (neg) "-" else ""}$days day" +
        (if (days == 1) "" else "s"))
      if (rest != 0 || days == 0) {
        if (sb.nonEmpty) sb.append(" ")
        sb.append(f"${if (neg) "-" else ""}$hh%02d:$mm%02d:$ss%02d")
        if (us != 0)
          sb.append("." + f"$us%06d".reverse.dropWhile(_ == '0').reverse)
      }
      sb.toString
    case t: java.sql.Timestamp if tzMode => cellTz(t)
    case t: java.sql.Timestamp =>
      // reference timestamp rendering (timestamp.cpp): no fractional
      // part when zero, else micros with trailing zeros trimmed —
      // java.sql.Timestamp.toString would print a spurious ".0"
      val base = t.toLocalDateTime.format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val micros = t.getNanos / 1000
      if (micros == 0) base
      else base + "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse
    case l: java.time.LocalDateTime => // TIMESTAMP_NTZ values
      cellRef(java.sql.Timestamp.valueOf(l), sqliteMode)
    case t: java.time.LocalTime => // TIME values (time.cpp rendering)
      // always HH:mm:ss, fraction only when nonzero with trailing
      // zeros trimmed — LocalTime.toString would drop ":00" seconds
      val base = t.format(
        java.time.format.DateTimeFormatter.ofPattern("HH:mm:ss"))
      val micros = t.getNano / 1000
      if (micros == 0) base
      else base + "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse
    case r: org.apache.spark.sql.Row =>
      // reference STRUCT rendering (value.cpp ToString): keys quoted,
      // nested values bare. Spark's auto-named col1..colN structs are
      // the importer's spelling of the reference's UNNAMED ROW values,
      // which render tuple-style: (11, hello)
      val names =
        if (r.schema != null) r.schema.fieldNames
        else Array.tabulate(r.length)(j => s"v${j + 1}")
      val autoNamed = names.zipWithIndex.forall {
        case (n, j) => n == s"col${j + 1}" }
      if (autoNamed && r.length > 1)
        (0 until r.length).map(j =>
          cellRef(r.get(j), sqliteMode, nested = true)).mkString("(", ", ", ")")
      else (0 until r.length).map { j =>
        s"'${names(j)}': ${cellRef(r.get(j), sqliteMode, nested = true)}"
      }.mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] =>
      // reference MAP rendering: {k=v, ...} in the map's own order.
      // Scala's immutable Map keeps insertion order only up to 4
      // entries; beyond that the order is already lost, so render
      // key-sorted (numeric-aware) — matching the sorted maps the
      // engine's aggregates (histogram) emit
      val entries = m.toSeq.map { case (k, v) =>
        (cellRef(k, sqliteMode, nested = true),
          cellRef(v, sqliteMode, nested = true))
      }
      val ordered =
        if (entries.length <= 4) entries
        else entries.sortWith { case ((a, _), (b, _)) =>
          (scala.util.Try(a.toDouble).toOption,
            scala.util.Try(b.toDouble).toOption) match {
            case (Some(x), Some(y)) => x < y
            case _ => a < b
          }
        }
      ordered.map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")
    case other => other.toString
  }

  private def md5(values: Seq[String]): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    values.foreach { v =>
      digest.update(v.getBytes("UTF-8")); digest.update('\n'.toByte)
    }
    digest.digest().map("%02x".format(_)).mkString
  }

  private val HashRe = """(\d+) values hashing to ([0-9a-f]{32})""".r

  // the reference runner compares values TYPE-AWARE (result_helper.cpp
  // CompareValues casts both sides to the SQL type): "1" matches true,
  // "1.5" matches "1.50". Mirror that leniency for imported files.
  // Value-cell regexes are CASE-SENSITIVE like the reference's
  // MatchesRegex; the DOTALL/CASE_INSENSITIVE leniency is reserved for
  // error-expectation documents, where phrasing embeds newlines and
  // engines differ only in capitalization ("syntax error" vs "Syntax
  // error").
  private def regexCell(pat: String, got: String,
      errorCell: Boolean = false): Boolean = {
    val flags = if (errorCell)
      java.util.regex.Pattern.DOTALL | java.util.regex.Pattern.CASE_INSENSITIVE
    else 0
    scala.util.Try(java.util.regex.Pattern.compile(pat, flags)
      .matcher(got).matches).getOrElse(false)
  }

  private def tokenMatches(got: String, exp: String): Boolean =
    if (exp.startsWith("<REGEX>:"))
      regexCell(exp.stripPrefix("<REGEX>:"), got)
    else if (exp.startsWith("<!REGEX>:"))
      !regexCell(exp.stripPrefix("<!REGEX>:"), got)
    else tokenMatchesLiteral(got, exp)

  // reference runner: a `<REGEX>:pattern` expectation cell matches the
  // rendered value against the pattern (result_helper.cpp
  // MatchesRegex); `<!REGEX>:` negates. Literal comparison otherwise.
  private def tokenMatchesLiteral(got: String, exp: String): Boolean =
    got == exp || got.trim == exp ||
    // LIST(JSON) vs LIST(VARCHAR) is indistinguishable at Row level, so
    // the nested renderer quotes a "null"-text element defensively; a
    // JSON-typed list's expectation shows it bare (SQL NULL would be
    // uppercase "NULL"). Scoped to bracketed-list renderings and to
    // 'null' as a WHOLE element — a scalar VARCHAR 'null' vs SQL NULL
    // mismatch must still fail.
    (got.startsWith("[") && got.endsWith("]") &&
      exp.startsWith("[") && exp.endsWith("]") && got.contains("'null'") &&
      got.replaceAll("""(?<=[\[,\s])'null'(?=[,\]])""", "null") == exp) ||
    ((got.toLowerCase, exp.toLowerCase) match {
      // booleans: type-lenient ("1"/"true") and case-lenient — some
      // reference files carry Python-style "True"/"False" expectations
      case ("true", "1") | ("false", "0") | ("1", "true") | ("0", "false") |
           ("true", "true") | ("false", "false") => true
      case _ =>
        val g = scala.util.Try(got.toDouble).toOption
        val e = scala.util.Try(exp.toDouble).toOption
        // the reference runner compares floats approximately when the
        // exact string differs (result_helper.cpp ApproxEqual) — e.g.
        // test files carry "2.123456" for a value that prints
        // 2.1234559999999973 on current builds of both engines
        g.isDefined && e.isDefined && {
          val (gv, ev) = (g.get, e.get)
          gv == ev || (gv.isNaN && ev.isNaN) ||
            math.abs(gv - ev) <= 1e-6 * math.max(math.abs(gv), math.abs(ev)) || {
              // many reference expectations are printf-rounded doubles
              // ("0.333333" for 0.33333333333333337) — an exact value can
              // sit 2 ULPs past the 1e-6 relative band; re-rendering the
              // got value at the expectation's precision settles it
              val dot = exp.indexOf('.')
              dot >= 0 && exp.drop(dot + 1).forall(_.isDigit) && {
                val k = exp.length - dot - 1
                String.format(s"%.${k}f", Double.box(gv)) == exp
              }
            }
        }
    })
  private def rowsMatch(got: Vector[String], exp: Vector[String]): Boolean =
    got.length == exp.length && got.lazyZip(exp).forall(tokenMatches)

  /** SQL entry point: the engine's statement front door. */
  private def exec(sql: String) = graft.engine.Sql.execute(spark, sql)

  private def runFile(name: String, text0: String, imported: Boolean,
      sqliteMode: Boolean, tzMode: Boolean = false): Unit = {
    // {TEST_DIR}: the reference runner's per-test scratch directory
    // placeholder (sqllogic_test_runner.cpp) — substitute a fresh temp
    // dir per file so COPY TO/FROM roundtrips have somewhere to live
    val text =
      if (text0.contains("{TEST_DIR}"))
        text0.replace("{TEST_DIR}",
          java.nio.file.Files.createTempDirectory("graft_slt").toString)
      else text0
    graft.functions.Macros.clear(spark) // hermetic: no cross-file macros
    graft.functions.Constraints.clear(spark) // nor cross-file constraints
    graft.functions.Sequences.clear(spark) // …and no cross-file sequences
    graft.functions.Prepared.clear(spark) // …and no cross-file templates
    graft.functions.Variables.clear(spark) // …and no cross-file variables
    // hermetic session confs: a corpus file's surviving SET/RESET
    // statements (settings/pragma areas) run on the SHARED test session,
    // and sbt executes suites concurrently in this JVM — restore every
    // conf the file touched so it cannot race another suite's plans
    val confBefore = spark.conf.getAll
    try runFileBody(name, text, imported, sqliteMode, tzMode)
    finally {
      val after = spark.conf.getAll
      for ((k, v) <- confBefore if after.get(k) != Some(v))
        try spark.conf.set(k, v) catch { case _: Throwable => () }
      for (k <- after.keys if !confBefore.contains(k))
        try spark.conf.unset(k) catch { case _: Throwable => () }
      // a file's USE <schema> must not leak: later suites resolve the
      // memoized g_/cb_ catalog tables UNQUALIFIED in `default`
      // (creat_create_index_on_issue_13643 leaves db0 current)
      try spark.catalog.setCurrentDatabase("default")
      catch { case _: Throwable => () }
    }
  }

  private def runFileBody(name: String, text: String, imported: Boolean,
      sqliteMode: Boolean, tzMode: Boolean): Unit = {
    val lines = text.linesIterator.toVector
    var i = 0
    var caseNo = 0
    // slt result labels (`query I nosort mylabel` with no ---- block):
    // all queries sharing a label must produce identical results
    val labelResults = scala.collection.mutable.Map[String, Vector[Vector[String]]]()
    while (i < lines.length) {
      val line = lines(i).trim
      if (line.isEmpty || line.startsWith("#")) i += 1
      else if (line.startsWith("statement")) {
        val expectError = line.contains("error")
        val sqlLines = lines.drop(i + 1).takeWhile(l => l.trim.nonEmpty && l.trim != "----")
        val sql = sqlLines.mkString("\n")
        caseNo += 1
        i += 1 + sqlLines.length
        // `statement error` may carry an expected-message block after ----
        if (i < lines.length && lines(i).trim == "----") {
          val msg = lines.drop(i + 1).takeWhile(l => l.trim.nonEmpty)
          i += 1 + msg.length
        }
        if (expectError) {
          val ok = scala.util.Try(exec(sql).collect()).isFailure
          assert(ok, s"$name #$caseNo: expected error for: $sql")
        } else exec(sql).collect()
      } else if (line.startsWith("query")) {
        val header = line.split("\\s+")
        val sortTokens = Set("rowsort", "valuesort", "nosort")
        val labelOpt = header.drop(2).filterNot(sortTokens).headOption
        val sortMode = header.drop(2).find(sortTokens).getOrElse("nosort")
        val sqlLines = lines.drop(i + 1).takeWhile(l => l.trim != "----")
        val sql = sqlLines.mkString("\n")
        val expLines = lines.drop(i + 1 + sqlLines.length + 1)
          .takeWhile(l => l.trim.nonEmpty)
          .map(_.trim)
        caseNo += 1
        val rows =
          try exec(sql).collect()
          catch {
            case e: Throwable =>
              // the root cause goes FIRST in the message: harness log
              // captures keep only a tail/head window, and the wrapper's
              // stack can push the interesting line out of it
              var root: Throwable = e
              while (root.getCause != null && (root.getCause ne root))
                root = root.getCause
              val why = s"${root.getClass.getSimpleName}: " +
                Option(root.getMessage).getOrElse("")
                  .linesIterator.mkString(" ").take(240)
              throw new RuntimeException(
                s"$name #$caseNo [$why] failed: " +
                  sql.linesIterator.mkString(" ").take(300), e)
          }
        val rendered: Vector[Vector[String]] = rows.iterator.map { r =>
          (0 until r.length).map { j =>
            if (imported) cellRef(r.get(j), sqliteMode, tzMode = tzMode) else cellLegacy(r.get(j))
          }.toVector
        }.toVector
        // nosort on an ORDER-BY-less query pins the reference's
        // insertion-order scan, which Spark does not guarantee (each
        // INSERT is its own file; scan order is file order, not time).
        // Result order is implementation-defined there, so compare
        // row-sorted; queries WITH an ORDER BY stay positional.
        val forceUnordered = imported && sortMode == "nosort" &&
          "(?i)order\\s+by".r.findFirstIn(sql).isEmpty &&
          !expLines.exists(HashRe.findFirstIn(_).isDefined)
        val sorted = sortMode match {
          case "rowsort" => rendered.sortBy(_.mkString(" "))
          case "valuesort" => rendered.flatten.sorted.map(Vector(_))
          case _ => rendered
        }
        if (expLines.isEmpty && labelOpt.isDefined) {
          // label-matching mode: compare against the label's first result
          labelResults.get(labelOpt.get) match {
            case Some(prev) =>
              assert(prev == sorted,
                s"$name #$caseNo: label '${labelOpt.get}' results diverge\n$sql\n" +
                  s"first:\n${prev.map(_.mkString(" ")).mkString("\n")}\n" +
                  s"this:\n${sorted.map(_.mkString(" ")).mkString("\n")}")
            case None =>
              labelResults(labelOpt.get) = sorted
          }
        } else expLines match {
          case Vector(HashRe(n, hash)) =>
            val values = sorted.flatten
            assert(values.length == n.toInt,
              s"$name #$caseNo: expected $n values, got ${values.length}\n$sql")
            val got = md5(values)
            assert(got == hash,
              s"$name #$caseNo: hash mismatch ($got != $hash)\n$sql\n" +
                s"first values: ${values.take(12).mkString(", ")}")
          case _ if imported =>
            // the slt convention (sqllogic_test_runner.cpp): expected
            // rows are ROW-WISE only when a line contains a tab;
            // otherwise each line is ONE value (row-major)
            val numCols = if (header.length > 1) header(1).length else 1
            // consecutive tabs are ONE separator (duckdb's runner splits
            // with StringUtil::Split, which drops empty entries — the
            // reference files align columns with extra tabs; a truly
            // empty cell renders "(empty)")
            val expRows: Vector[Vector[String]] =
              if (expLines.exists(_.contains('\t')))
                expLines.map(_.split('\t').filter(_.nonEmpty)
                  .map(_.trim).toVector).toVector
              else expLines.toVector.grouped(math.max(numCols, 1)).map(_.toVector).toVector
            // canonicalize numeric tokens in the sort key so "1" (file)
            // and "1.0" (rendered double) order identically on both sides
            def sortKey(row: Vector[String]): String = row.map { t0 =>
              val t = t0.trim
              val norm = t match {
                case "true" => "1"; case "false" => "0"; case x => x
              }
              scala.util.Try(norm.toDouble).toOption
                .filterNot(_.isNaN).map(d => f"$d%030.9f").getOrElse(t)
            }.mkString(" ")
            val (gotRows, expRows2) =
              if (forceUnordered) (sorted.sortBy(sortKey), expRows.sortBy(sortKey))
              else (sorted, expRows)
            val got = gotRows.flatten
            val exp = expRows2.flatten
            assert(rowsMatch(got, exp),
              s"$name #$caseNo:\n$sql\nexpected:\n${exp.mkString("\n")}\ngot:\n${got.mkString("\n")}")
          case _ =>
            val got = sorted.map(_.mkString(" "))
            assert(got == expLines,
              s"$name #$caseNo:\n$sql\nexpected:\n${expLines.mkString("\n")}\ngot:\n${got.mkString("\n")}")
        }
        i += 1 + sqlLines.length + 1 + expLines.length
      } else i += 1
    }
    assert(caseNo > 0, s"$name: no test records parsed")
  }

  private def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    assert(in != null, s"missing resource $path")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private val files = Seq("join", "aggregate", "window", "setops", "string",
    "subquery", "types", "collation")
  for (f <- files) {
    test(s"sqllogic: $f.test") {
      runFile(f, resource(s"/sql/$f.test"), imported = false, sqliteMode = false)
    }
  }

  // imported reference corpus: one line per file in ref/MANIFEST, optional
  // "sqlite:" prefix for original-sqlite conversion mode
  private val manifest = scala.util.Try(resource("/sql/ref/MANIFEST")).toOption
  for (m <- manifest.toSeq; raw <- m.linesIterator if raw.trim.nonEmpty) {
    val (mode, tzm, fname) =
      if (raw.startsWith("sqlite:")) (true, false, raw.stripPrefix("sqlite:").trim)
      else if (raw.startsWith("tz:")) (false, true, raw.stripPrefix("tz:").trim)
      else (false, false, raw.trim)
    test(s"sqllogic/ref: $fname") {
      // file isolation: the corpus reuses table names (integers, test,
      // t1...) across files; the reference runner starts a fresh DB per
      // file, so drop everything the previous file left behind
      // use the SessionCatalog directly — Catalog.listTables builds a
      // Dataset whose plan can NPE when a prior file's failed execution
      // poisoned the lazy toRdd, and it re-resolves every temp view
      // (views over tables a previous file dropped would throw here)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      val cat = spark.sessionState.catalog
      // `g_`/`cb_`/`job_`/`fx_` tables are graft-internal (memoized
      // bucketed copies, suite-derived projections) — other suites rely
      // on them surviving
      val keep = Seq("g_", "cb_", "job_", "fx_")
      cat.listLocalTempViews("*").map(_.table)
        .filterNot(n => keep.exists(n.startsWith)).foreach(cat.dropTempView)
      cat.listTables("default").foreach { ti =>
        if (ti.database.contains("default") &&
            !keep.exists(ti.table.startsWith)) {
          if (cat.tableExists(ti) &&
              cat.getTableMetadata(ti).tableType.name == "VIEW")
            spark.sql(s"DROP VIEW IF EXISTS `${ti.table}`")
          else spark.sql(s"DROP TABLE IF EXISTS `${ti.table}`")
        }
      }
      // attached databases leak across files the same way tables do
      cat.setCurrentDatabase("default")
      cat.listDatabases("*").filterNot(_ == "default").foreach(db =>
        spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE"))
      runFile(fname, resource(s"/sql/ref/$fname"), imported = true, sqliteMode = mode, tzMode = tzm)
    }
  }
}
