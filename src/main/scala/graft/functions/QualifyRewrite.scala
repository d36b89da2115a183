package graft.functions

/** Reference `QUALIFY` clause as a pre-parse text rewrite
  * (`/root/reference/src/parser/peg/grammar/statements/select.gram:148`;
  * semantics: `src/planner/binder/query_node/plan_subquery.cpp` — the
  * binder plans QUALIFY as a filter over the window-computed projection,
  * between HAVING/WINDOW and DISTINCT).
  *
  * Spark has no QUALIFY, so each `SELECT … QUALIFY p [tail]` becomes
  *
  * {{{
  * SELECT [DISTINCT] * EXCEPT (__qualify) FROM (
  *   SELECT <select-list>, (p) AS __qualify <from…having/window>
  * ) WHERE __qualify [tail]
  * }}}
  *
  * which reproduces the reference's evaluation order exactly:
  * WHERE/GROUP/HAVING run inside, the predicate is computed WITH the
  * select list (so it may use select aliases — Spark's lateral column
  * aliases — and window functions), DISTINCT applies after the filter,
  * and ORDER BY/LIMIT stay outside over the filtered rows. The marker
  * column is dropped with Spark's `* EXCEPT`.
  *
  * Limitation (documented): an outer ORDER BY can no longer reach base
  * columns that the select list does not project — the same restriction
  * DuckDB applies to DISTINCT queries.
  */
private[functions] object QualifyRewrite {

  def apply(sql: String): String = {
    var cur = sql
    var rounds = 0
    var changed = true
    while (changed && rounds < 16) { // one QUALIFY per round; converges
      val next = rewriteOne(cur)
      changed = next != cur
      cur = next
      rounds += 1
    }
    cur
  }

  private def rewriteOne(sql: String): String = {
    val t = SqlText(sql)
    import t.{code, depth, kwAt}

    var qi = -1
    var i = 0
    while (qi < 0 && i < sql.length) {
      if (kwAt(i, "qualify")) qi = i
      i += 1
    }
    if (qi < 0) return sql
    val d = depth(qi)

    // enclosing SELECT: nearest preceding SELECT at the same depth
    var s0 = -1
    var j = qi - 1
    while (s0 < 0 && j >= 0) {
      if (depth(j) == d && kwAt(j, "select")) s0 = j
      j -= 1
    }
    if (s0 < 0) return sql // malformed; leave for Spark's parse error

    // end of this SELECT's QUALIFY segment: first same-depth tail token
    // or the closing paren of the enclosing group / statement end
    // WINDOW precedes QUALIFY in the grammar, so it is not a tail token
    val tailKws = Seq("order", "limit", "offset", "fetch",
      "union", "intersect", "except")
    var end = sql.length
    var k = qi + "qualify".length
    while (k < end) {
      if (code(k) && depth(k) < d) { end = k }
      else if (depth(k) == d && tailKws.exists(kwAt(k, _))) end = k
      else if (code(k) && sql.charAt(k) == ';') end = k
      else k += 1
    }
    val pred = sql.substring(qi + "qualify".length, end).trim
    if (pred.isEmpty) return sql

    // select list bounds: after SELECT [DISTINCT|ALL], up to the main
    // FROM at this depth (EXTRACT/TRIM-style FROMs live inside parens)
    var selStart = s0 + "select".length
    while (selStart < qi && sql.charAt(selStart).isWhitespace) selStart += 1
    var distinct = false
    if (kwAt(selStart, "distinct")) {
      distinct = true
      selStart += "distinct".length
    } else if (kwAt(selStart, "all")) selStart += "all".length

    var fromIdx = -1
    var f = selStart
    while (fromIdx < 0 && f < qi) {
      if (depth(f) == d && kwAt(f, "from")) fromIdx = f
      f += 1
    }

    val (selectList, fromRest) =
      if (fromIdx >= 0)
        (sql.substring(selStart, fromIdx).trim, sql.substring(fromIdx, qi).trim)
      else (sql.substring(selStart, qi).trim, "")

    // the reference binder requires a window function somewhere in the
    // SELECT list or the QUALIFY predicate
    // (bind_select_node.cpp:752-755)
    def hasOver(s: String): Boolean = {
      val st = SqlText(s)
      (0 until s.length).exists(st.kwAt(_, "over"))
    }
    if (!hasOver(selectList) && !hasOver(pred))
      throw new IllegalArgumentException(
        "Binder Error: at least one window function must appear in the " +
          "SELECT column or QUALIFY clause")

    // A trailing ORDER BY may reference base columns the select list
    // does not project (legal in the reference, where QUALIFY never
    // nests). Alias each non-ordinal order expression into the inner
    // select (__qob1…) and sort on the alias outside; DISTINCT queries
    // skip this (ordering by a non-projected column under DISTINCT is
    // invalid in the reference too).
    val obAliases = scala.collection.mutable.ArrayBuffer[String]()
    var tailStart = end
    var obText = ""
    if (!distinct && end < sql.length && kwAt(end, "order")) {
      var b = end + "order".length
      while (b < sql.length && sql.charAt(b).isWhitespace) b += 1
      if (b < sql.length && kwAt(b, "by")) {
        var obEnd = sql.length
        var m = b + 2
        while (m < obEnd) {
          if (code(m) && depth(m) < d) obEnd = m
          else if (depth(m) == d && Seq("limit", "offset", "fetch",
              "union", "intersect", "except").exists(kwAt(m, _)))
            obEnd = m
          else if (code(m) && sql.charAt(m) == ';') obEnd = m
          else m += 1
        }
        val items = SqlText.splitTop(sql.substring(b + 2, obEnd))
        val sufRe = """(?is)^(.*?)((\s+(ASC|DESC))?(\s+NULLS\s+(FIRST|LAST))?)\s*$""".r
        val rewrittenItems = items.map {
          case it if it.matches("\\d+") || it.matches("(?i)all") => it // ordinals / ALL stay
          case sufRe(core, suffix, _, _, _, _) =>
            val name = s"__qob${obAliases.length + 1}"
            obAliases += s"($core) AS $name"
            name + suffix
          case it => it
        }
        obText = " ORDER BY " + rewrittenItems.mkString(", ")
        tailStart = obEnd
      }
    }

    val inner = "SELECT " + selectList + ", (" + pred + ") AS __qualify" +
      (if (obAliases.isEmpty) "" else obAliases.mkString(", ", ", ", "")) +
      (if (fromRest.nonEmpty) " " + fromRest else "")
    val exceptCols = "__qualify" +
      (1 to obAliases.length).map(i => s", __qob$i").mkString
    val rewritten = "SELECT " + (if (distinct) "DISTINCT " else "") +
      s"* EXCEPT ($exceptCols) FROM (" + inner + ") WHERE __qualify" + obText

    sql.substring(0, s0) + rewritten + " " + sql.substring(tailStart)
  }
}
