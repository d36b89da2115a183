package graft.functions

/** Reference window-macro semantics as a bind-time text rewrite
  * (`/root/reference/test/sql/catalog/function/test_window_macro.test`;
  * binder: the reference relocates a call-site `OVER` into the macro
  * body's unique aggregate — `bind_macro_expression.cpp`'s expansion
  * binds the window against the aggregate the body contains).
  *
  * Spark's parser rejects every one of these forms outright, so the
  * rewrite has to happen on the SQL text before parse. Handled shapes
  * (applied by [[Macros.expandAll]] after macro inlining, so they cover
  * both expanded macros and raw dialect SQL):
  *
  *   1. `(EXPR) OVER (w)` — a parenthesized expression (the shape every
  *      scalar-macro expansion produces) carrying a window: the unique
  *      aggregate call inside EXPR receives the OVER; zero or >1
  *      aggregates is the reference's binder error.
  *   2. `wrap(.. agg(x) ..) OVER (w)` — a non-aggregate wrapper (e.g.
  *      `transform(sort_array(collect_list(..)), ..) OVER (..)`): same
  *      relocation into the unique aggregate.
  *   3. `agg(x) FILTER (WHERE p) OVER (w)` — Spark has no windowed
  *      FILTER clause; folded to `agg(CASE WHEN p THEN x END) OVER (w)`
  *      (CASE yields NULL when false, which every aggregate ignores —
  *      the FILTER semantics exactly). Body-level and call-site FILTERs
  *      compose by conjunction.
  *   4. `count(DISTINCT x) OVER (w)` — Spark has no DISTINCT windowed
  *      aggregate; rewritten to `size(collect_set(x) OVER (w))`
  *      (collect_set drops NULLs, matching COUNT's NULL handling).
  *
  * A plain `agg(x) OVER (w)` / ranking call is left untouched. The scan
  * is quote-aware and operates on balanced-paren groups only.
  */
private[functions] object WindowRelocate {

  private val Aggs = Set(
    "sum", "count", "avg", "mean", "min", "max", "first", "last",
    "any_value", "stddev", "stddev_pop", "stddev_samp", "variance",
    "var_pop", "var_samp", "collect_list", "collect_set", "array_agg",
    "string_agg", "listagg", "bool_and", "bool_or", "every", "corr",
    "covar_pop", "covar_samp", "skewness", "kurtosis", "median", "mode",
    "product", "count_if", "bit_and", "bit_or", "bit_xor",
    "approx_count_distinct", "percentile", "percentile_approx",
    "approx_percentile")

  private val HolisticWins = Set("mad", "entropy", "product", "sem",
    "histogram")

  private val WinFns = Set(
    "row_number", "rank", "dense_rank", "ntile", "percent_rank",
    "cume_dist", "lag", "lead", "nth_value", "first_value", "last_value")

  // an identifier before '(' that is SQL syntax, not a call name —
  // `SELECT (expr) OVER (…)` must take the paren-group path
  private val Keywords = Set(
    "select", "where", "when", "then", "else", "and", "or", "not", "by",
    "as", "on", "case", "end", "from", "join", "having", "all", "union",
    "intersect", "except", "in", "exists", "between", "is", "like",
    "ilike", "distinct", "limit", "offset", "return", "returns")

  private val bodyError =
    "Window function macro bodies must contain exactly one aggregate function"

  def apply(sql: String): String = {
    var cur = sql
    var rounds = 0
    var changed = true
    while (changed && rounds < 32) { // one rewrite per round; converges
      val next = rewriteOnce(cur)
      changed = next != cur
      cur = next
      rounds += 1
    }
    cur
  }

  import SqlText.isIdent

  /** Identifier ending just before `i` (exclusive), skipping whitespace;
    * returns (startIndex, word) — word empty when none. */
  private def wordBefore(s: String, i: Int): (Int, String) = {
    var j = i - 1
    while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
    val end = j + 1
    while (j >= 0 && isIdent(s.charAt(j))) j -= 1
    (j + 1, s.substring(j + 1, end))
  }

  private def rewriteOnce(sql: String): String = {
    val t = SqlText(sql)
    var i = 0
    while (i < sql.length) {
      if (t.kwAt(i, "over")) {
        var k = i + 4
        while (k < sql.length && sql.charAt(k).isWhitespace) k += 1
        if (k < sql.length && sql.charAt(k) == '(' && t.close(k) < sql.length) {
          val out = tryRewriteAt(t, i, k, t.close(k))
          if (out != null) return out
        }
      }
      i += 1
    }
    sql
  }

  /** Attempt the rewrite for one `<expr-group> [FILTER (…)]* OVER (w)`
    * occurrence; null = leave this occurrence alone. */
  private def tryRewriteAt(t: SqlText, overAt: Int, wOpen: Int, wClose: Int): String = {
    val sql = t.text
    val window = sql.substring(wOpen, wClose + 1)
    // walk back over call-site FILTER (WHERE p) groups to the expression
    var pe = { // position of ')' closing the group before OVER
      var j = overAt - 1
      while (j >= 0 && sql.charAt(j).isWhitespace) j -= 1
      j
    }
    val preds = scala.collection.mutable.ArrayBuffer[String]()
    var es = -1 // start of the expression (incl. fn name if any)
    var fn = ""
    var loop = true
    while (loop) {
      if (pe < 0 || sql.charAt(pe) != ')' || t.open(pe) < 0) return null
      val ps = t.open(pe)
      val (ws, w) = wordBefore(sql, ps)
      if (w.equalsIgnoreCase("filter")) {
        val content = sql.substring(ps + 1, pe)
        val m = """(?is)^\s*WHERE\b(.*)$""".r.findFirstMatchIn(content)
          .getOrElse(return null)
        preds += m.group(1).trim
        var j = ws - 1
        while (j >= 0 && sql.charAt(j).isWhitespace) j -= 1
        pe = j
      } else {
        fn = if (Keywords(w.toLowerCase)) "" else w.toLowerCase
        es = if (fn.nonEmpty) ws else ps
        loop = false
      }
    }
    val exprEnd = pe + 1
    val expr = sql.substring(es, exprEnd)
    val exprOpen = t.open(pe) // '(' of the outermost group of expr

    // standard windowed call — nothing to do unless a FILTER is attached
    // or the aggregate carries a top-level DISTINCT
    val topDistinct = fn.nonEmpty &&
      """(?is)^\s*DISTINCT\b.*""".r.matches(sql.substring(exprOpen + 1, pe))
    // holistic aggregates the engine composes as collect_list ∘ kernel:
    // windowed, the collect_list takes the OVER and the kernel wraps it
    // (mad(x) OVER w → list_mad(collect_list(x) OVER w))
    if (fn.nonEmpty && HolisticWins(fn)) {
      val argsText = sql.substring(exprOpen + 1, pe)
      // multi-arg holistic calls (binned histogram(x, bins)) can't take
      // the collect_list relocation — the extra arg would be swallowed
      // into collect_list's arity; leave for Spark's own analysis error
      if (SqlText.splitTop(argsText).length > 1) return null
      val inner =
        if (preds.isEmpty) argsText
        else s"CASE WHEN ${preds.map(p => s"($p)").mkString(" AND ")} " +
          s"THEN ($argsText) END"
      return sql.substring(0, es) +
        s"list_$fn(collect_list($inner) OVER $window)" +
        sql.substring(wClose + 1)
    }
    if (fn.nonEmpty && WinFns(fn)) {
      // the reference permits offset/ranking functions over an UNORDERED
      // window (input order); Spark demands an ORDER BY — supply a
      // constant one, which reproduces the arbitrary-order semantics
      // (prepare_window_functions.test: LEAD(1) OVER ())
      val orderRequired = Set("lag", "lead", "row_number", "rank",
        "dense_rank", "ntile", "percent_rank", "cume_dist")
      val interior = sql.substring(wOpen + 1, wClose)
      if (orderRequired(fn) && preds.isEmpty &&
          !"""(?is).*\bORDER\s+BY\b.*""".r.matches(interior))
        return sql.substring(0, wClose) +
          (if (interior.trim.isEmpty) "ORDER BY 1" else " ORDER BY 1") +
          sql.substring(wClose)
      return null // ranking fns never relocate
    }
    if (fn.nonEmpty && Aggs(fn) && preds.isEmpty && !topDistinct)
      return null
    // only COUNT(DISTINCT …) has a windowed rewrite (collect_set); a
    // DISTINCT on any other aggregate would otherwise come out as
    // `agg(CASE WHEN p THEN (DISTINCT x) END)` — invalid SQL. Leave it
    // so Spark raises its own analysis error (the reference's binder
    // rejects these shapes too).
    if (fn.nonEmpty && topDistinct && fn != "count") return null
    if (fn.nonEmpty && !Aggs(fn)) {
      // non-aggregate wrapper: relocate only when exactly one aggregate
      // lives inside; otherwise leave it for Spark's own analysis error
      if (countAggs(expr) != 1) return null
    }

    val e = rewriteExpr(expr, preds.toSeq, window)
    sql.substring(0, es) + e + sql.substring(wClose + 1)
  }

  /** Aggregate call sites inside `e` (quote-aware, identifier-boundary,
    * unqualified). Returns (nameStart, openParen) pairs. */
  private def aggSites(e: String): Seq[(Int, Int)] = {
    val t = SqlText(e)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var i = 0
    while (i < e.length) {
      if (t.code(i) && (isIdent(e.charAt(i)) &&
          (i == 0 || (!isIdent(e.charAt(i - 1)) && e.charAt(i - 1) != '.')))) {
        var j = i
        while (j < e.length && isIdent(e.charAt(j))) j += 1
        val name = t.lower.substring(i, j)
        var k = j
        while (k < e.length && e.charAt(k).isWhitespace) k += 1
        if (k < e.length && e.charAt(k) == '(' && Aggs(name)) out += ((i, k))
        i = j
      } else i += 1
    }
    out.toSeq
  }

  private def countAggs(e: String): Int = aggSites(e).length

  /** Relocate the window into `expr`'s unique aggregate, folding
    * call-site + body FILTER predicates and DISTINCT. */
  private def rewriteExpr(expr: String, callPreds: Seq[String],
      window: String): String = {
    val sites = aggSites(expr)
    if (sites.length != 1)
      throw new IllegalArgumentException(bodyError)
    val (nameStart, open) = sites.head
    val t = SqlText(expr)
    val close = t.close(open)
    if (close == expr.length) throw new IllegalArgumentException(bodyError)
    val name = expr.substring(nameStart, open).trim.toLowerCase
    val argsText = expr.substring(open + 1, close)

    // body-level FILTER directly after the aggregate call
    var removeEnd = close + 1
    val preds = scala.collection.mutable.ArrayBuffer[String]()
    preds ++= callPreds
    val tail = expr.substring(close + 1)
    """(?is)^\s*FILTER\s*\(""".r.findPrefixMatchOf(tail).foreach { fm =>
      val fOpen = close + 1 + fm.end - 1
      val fClose = t.close(fOpen)
      if (fClose < expr.length) {
        val content = expr.substring(fOpen + 1, fClose)
        """(?is)^\s*WHERE\b(.*)$""".r.findFirstMatchIn(content).foreach { m =>
          preds += m.group(1).trim
          removeEnd = fClose + 1
        }
      }
    }

    val dm = """(?is)^\s*DISTINCT\b(.*)$""".r.findFirstMatchIn(argsText)
    // DISTINCT only composes with COUNT's collect_set rewrite; any other
    // aggregate would yield `agg(CASE WHEN p THEN (DISTINCT x) END)` —
    // invalid SQL. Raise the reference's binder diagnostic instead.
    if (dm.isDefined && name != "count")
      throw new IllegalArgumentException(
        s"DISTINCT is not implemented for windowed $name")
    val pred = preds.map(p => s"($p)").mkString(" AND ")
    val core =
      if (dm.isDefined && name == "count") {
        // COUNT(DISTINCT x) over a window: distinct count of the frame.
        // Multi-arg distinct counts tuple-wise (struct packs the tuple).
        val rest0 = dm.get.group(1).trim
        val rest = if (SqlText.splitTop(rest0).length > 1) s"struct($rest0)" else rest0
        val inner = if (preds.isEmpty) rest
                    else s"CASE WHEN $pred THEN $rest END"
        s"size(collect_set($inner) OVER $window)"
      } else if (preds.nonEmpty) {
        if (name == "count" && argsText.trim == "*")
          s"count(CASE WHEN $pred THEN 1 END) OVER $window"
        else
          s"$name(CASE WHEN $pred THEN ($argsText) END) OVER $window"
      } else s"$name($argsText) OVER $window"

    expr.substring(0, nameStart) + core + expr.substring(removeEnd)
  }
}
