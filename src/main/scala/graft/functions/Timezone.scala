package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.TzUtil

/** The reference's timezone surface (extension/icu/icu-timezone.cpp +
  * test/sql/timezone/):
  *
  *  - `expr AT TIME ZONE zone` — pre-parse lowering onto the engine's
  *    `timezone(zone, expr)` Catalyst expression
  *    (org.apache.spark.sql.graft.AtTimeZone), which dispatches
  *    TIMESTAMP↔TIMESTAMPTZ directionality on the operand type.
  *  - `SET TimeZone = 'z'` / `RESET TimeZone` — validated against the
  *    tz database (Unknown TimeZone + suggestion on miss) and mapped
  *    onto `spark.sql.session.timeZone`, so TIMESTAMP↔TIMESTAMPTZ casts
  *    and rendering follow the session zone exactly like the reference.
  *  - `duckdb_settings()` / `current_setting('name')` — the settings
  *    catalog TVF and accessor (reference duckdb_settings table fn),
  *    inlined over the live session conf.
  */
object Timezone {
  import SqlText.isIdent

  // ------------------------------------------------------------------
  // SET TimeZone / SET Calendar
  // ------------------------------------------------------------------

  private val SetTzRe =
    """(?is)^\s*(?:SET|PRAGMA)\s+(?:SESSION\s+)?TimeZone\s*(?:=|\s+TO\b)\s*('(?:[^']|'')*'|[\w+\-:/]+)\s*;?\s*$""".r
  private val ResetTzRe =
    """(?is)^\s*RESET\s+TimeZone\s*;?\s*$""".r
  private val SetCalRe =
    """(?is)^\s*(?:SET|PRAGMA)\s+(?:SESSION\s+)?Calendar\s*(?:=|\s+TO\b)\s*('(?:[^']|'')*'|[\w]+)\s*;?\s*$""".r

  def matchesSet(sql: String): Boolean =
    SetTzRe.findFirstIn(sql).isDefined || ResetTzRe.findFirstIn(sql).isDefined ||
      SetCalRe.findFirstIn(sql).isDefined

  /** Display spelling of the current zone (what duckdb_settings shows). */
  private def display(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.timezone.display").getOrElse {
      val z = spark.conf.get("spark.sql.session.timeZone", "UTC")
      if (z == "Z") "UTC" else z
    }

  def executeSet(spark: SparkSession, sql: String): DataFrame = sql match {
    case SetTzRe(v0) =>
      val v = Dml.unq(v0).stripPrefix("'").stripSuffix("'").replace("''", "'")
      val (disp, zid) = TzUtil.canonSetting(v) // throws Unknown TimeZone
      spark.conf.set("spark.sql.session.timeZone", zid.getId)
      spark.conf.set("spark.graft.timezone.display", disp)
      spark.emptyDataFrame
    case ResetTzRe() =>
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      spark.conf.set("spark.graft.timezone.display", "UTC")
      spark.emptyDataFrame
    case SetCalRe(v0) =>
      val v = v0.stripPrefix("'").stripSuffix("'")
      // ICU calendar systems (chinese/hebrew/…) are a documented
      // non-goal; the proleptic Gregorian default is the only calendar
      if (!v.equalsIgnoreCase("gregorian"))
        throw new IllegalArgumentException(
          s"Not implemented Error: Unknown Calendar '$v'")
      spark.emptyDataFrame
    case _ => throw new IllegalArgumentException(s"not a SET TimeZone statement: $sql")
  }

  // ------------------------------------------------------------------
  // duckdb_settings() / current_setting()
  // ------------------------------------------------------------------

  private def esc(s: String) = s.replace("'", "''")

  private def settingsRows(spark: SparkSession): Seq[(String, String, String)] = Seq(
    ("Calendar", "gregorian", "The current calendar"),
    ("TimeZone", display(spark), "The current time zone"))

  private def settingsRelation(spark: SparkSession): String = {
    val rows = settingsRows(spark).map { case (n, v, d) =>
      s"('${esc(n)}', '${esc(v)}', '${esc(d)}', 'VARCHAR', 'LOCAL')"
    }
    s"(SELECT * FROM (VALUES ${rows.mkString(", ")}) AS " +
      "duckdb_settings(name, value, description, input_type, scope))"
  }

  /** Lower duckdb_settings() and current_setting('x') onto the live
    * session conf; bare localtimestamp/localtime keywords (the
    * reference's local-time surface, icu-current.cpp) call the
    * session-zone wall-clock functions. Quote-aware (a data string may
    * contain the text). */
  def rewriteSettings(spark: SparkSession, sql: String): String = {
    var out = sql
    val LocalRe = """(?i)\b(localtimestamp|localtime)\b(?!\s*\()""".r
    out = SqlText.replaceUnquoted(out, LocalRe)(m =>
      if (m.group(1).equalsIgnoreCase("localtimestamp"))
        "localtimestamp()" else "current_localtime()")
    val SettingsRe = """(?i)\bduckdb_settings\s*\(\s*\)""".r
    out = SqlText.replaceUnquoted(out, SettingsRe)(_ => settingsRelation(spark))
    val CurRe = """(?i)\bcurrent_setting\s*\(\s*'([^']*)'\s*\)""".r
    SqlText.replaceUnquoted(out, CurRe) { m =>
      val name = m.group(1)
      val v = settingsRows(spark).find(_._1.equalsIgnoreCase(name)).map(_._2)
        .orElse(spark.conf.getOption(name))
        .getOrElse(throw new IllegalArgumentException(
          s"Catalog Error: unrecognized configuration parameter \"$name\""))
      s"'${esc(v)}'"
    }
  }

  // ------------------------------------------------------------------
  // AT TIME ZONE → timezone(zone, expr)
  // ------------------------------------------------------------------

  private val AtRe = """(?i)\bAT\s+TIME\s+ZONE\b""".r

  // type-keyword prefixes absorbed into the operand so `TIMESTAMP '…'
  // AT TIME ZONE z` keeps its typed-literal spelling
  private val TypedLiteralKw =
    Set("timestamp", "timestamptz", "timestamp_ntz", "timestamp_ltz",
      "date", "time", "timetz", "interval")

  /** End (exclusive) of one primary expression starting at i (postfix
    * `::type` casts absorbed). Returns -1 when unparsable. */
  private def primaryEnd(t: SqlText, i0: Int): Int = {
    val s = t.text
    var i = i0
    if (i >= s.length) return -1
    def skipParens(from: Int): Int = {
      val close = t.close(from)
      if (close < s.length) close + 1 else -1
    }
    val c = s.charAt(i)
    if (t.quote(i) != ' ') { // string literal / quoted identifier
      val q = t.quote(i)
      var k = i
      while (k < s.length && t.quote(k) == q) k += 1
      i = k
    } else if (c == '(') {
      i = skipParens(i); if (i < 0) return -1
    } else if (isIdent(c)) {
      var k = i
      while (k < s.length && (isIdent(s.charAt(k)) || s.charAt(k) == '.')) k += 1
      // typed literal (TIMESTAMP '…') or function call f(args)
      var p = k
      while (p < s.length && s.charAt(p).isWhitespace) p += 1
      if (p < s.length && s.charAt(p) == '(') {
        i = skipParens(p); if (i < 0) return -1
      } else if (p < s.length && t.quote(p) != ' ' &&
          TypedLiteralKw.contains(s.substring(i, k).toLowerCase)) {
        val q = t.quote(p)
        var e = p
        while (e < s.length && t.quote(e) == q) e += 1
        i = e
      } else i = k
    } else return -1
    // absorb `::type(...)` postfix casts
    var done = false
    while (!done) {
      var p = i
      while (p < s.length && s.charAt(p).isWhitespace) p += 1
      if (p + 1 < s.length && s.charAt(p) == ':' && s.charAt(p + 1) == ':') {
        var k = p + 2
        while (k < s.length && s.charAt(k).isWhitespace) k += 1
        val st = k
        // single-token type name (multi-word TIMESTAMP WITH TIME ZONE
        // spellings stay out of the absorbed postfix)
        while (k < s.length && isIdent(s.charAt(k))) k += 1
        if (k == st) done = true
        else {
          var p2 = k
          while (p2 < s.length && s.charAt(p2).isWhitespace) p2 += 1
          if (p2 < s.length && s.charAt(p2) == '(') {
            val e = skipParens(p2); if (e < 0) return -1; i = e
          } else i = k
        }
      } else done = true
    }
    i
  }

  /** Start of the operand expression ending just before `end` (scans
    * backwards over `primary (:: type)*` chains). Returns -1 when
    * unparsable. */
  private def exprStart(t: SqlText, end0: Int): Int = {
    val s = t.text
    var p = end0 - 1
    while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
    if (p < 0) return -1
    def primaryStart(at: Int): Int = {
      var k = at
      if (k < 0) return -1
      if (t.quote(k) != ' ') { // string literal / quoted identifier
        val q = t.quote(k)
        while (k >= 0 && t.quote(k) == q) k -= 1
        k + 1
      } else if (s.charAt(k) == ')') {
        val open = t.open(k)
        if (open < 0) return -1
        // preceding function name, if any
        var j = open - 1
        while (j >= 0 && (isIdent(s.charAt(j)) || s.charAt(j) == '.')) j -= 1
        j + 1
      } else if (isIdent(s.charAt(k))) {
        while (k >= 0 && (isIdent(s.charAt(k)) || s.charAt(k) == '.')) k -= 1
        k + 1
      } else -1
    }
    var start = -1
    var continue = true
    while (continue) {
      start = primaryStart(p)
      if (start < 0) return -1
      // `TYPE '…'` typed literal: absorb the keyword
      if (t.quote(p) != ' ') {
        var j = start - 1
        while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
        if (j >= 0 && isIdent(s.charAt(j))) {
          var k = j
          while (k >= 0 && isIdent(s.charAt(k))) k -= 1
          if (TypedLiteralKw.contains(s.substring(k + 1, j + 1).toLowerCase))
            start = k + 1
        }
      }
      // preceding `::` chains another primary before this one
      var j = start - 1
      while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
      if (j >= 1 && s.charAt(j) == ':' && s.charAt(j - 1) == ':') {
        p = j - 2
        while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
        if (p < 0) return -1
      } else continue = false
    }
    start
  }

  /** `expr AT TIME ZONE zone` → `timezone(zone, expr)` (reference
    * transform.cpp AT TIME ZONE operator → the icu timezone fn). */
  def rewriteAtTimeZone(sql: String): String = {
    if (AtRe.findFirstIn(sql).isEmpty) return sql
    var out = sql
    var guard = 0
    var changed = true
    while (changed && guard < 32) {
      guard += 1
      changed = false
      val t = SqlText(out)
      val mOpt = AtRe.findAllMatchIn(out).find(m => t.code(m.start))
      mOpt.foreach { m =>
        var j = m.end
        while (j < out.length && out.charAt(j).isWhitespace) j += 1
        val rhsEnd = primaryEnd(t, j)
        val lhsStart = exprStart(t, m.start)
        if (rhsEnd > j && lhsStart >= 0 && lhsStart < m.start) {
          val lhs = out.substring(lhsStart, m.start).trim
          val rhs = out.substring(j, rhsEnd).trim
          out = out.substring(0, lhsStart) +
            s"timezone($rhs, $lhs)" + out.substring(rhsEnd)
          changed = true
        }
      }
    }
    out
  }
}
