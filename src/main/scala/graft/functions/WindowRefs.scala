package graft.functions

/** Named-window REFERENCES inside parenthesized OVER specs — reference
  * grammar `window_specification` (select.gram): `OVER (w)` and the
  * refinement form `OVER (w ROWS BETWEEN ...)` inherit the named
  * window's partition/order and append the extra clauses. Spark parses
  * `OVER w` but rejects the parenthesized/refinement forms, so the
  * definition is spliced into the spec textually before parse
  * (exactly the reference binder's inheritance semantics).
  *
  * `WINDOW a AS (...), b AS (a ...)` chains resolve in declaration
  * order. Names are collected statement-wide (per-block scoping is not
  * modeled — corpus files use distinct names).
  */
private[functions] object WindowRefs {

  import SqlText.isIdent

  def apply(sql: String): String = {
    if (!sql.toLowerCase.contains("window")) return sql
    val st = SqlText(sql)

    // collect WINDOW <name> AS (<def>) [, <name> AS (<def>)]* clauses
    // (with body spans, so name-chained defs can be spliced in place —
    // Spark's WINDOW-clause grammar has no window-name references)
    val defs = scala.collection.mutable.LinkedHashMap[String, String]()
    val spans = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]()
    var i = 0
    while (i < sql.length) {
      if (st.kwAt(i, "window")) {
        var j = i + "window".length
        var more = true
        var consumedAny = false
        val clauseNames = scala.collection.mutable.Set[String]()
        while (more) {
          while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
          val ns = j
          while (j < sql.length && isIdent(sql.charAt(j))) j += 1
          val name = sql.substring(ns, j).toLowerCase
          while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
          if (name.nonEmpty && st.kwAt(j, "as")) {
            j += 2
            while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
            if (j < sql.length && sql.charAt(j) == '(' && st.close(j) < sql.length) {
              val close = st.close(j)
              // duplicate names in one clause are the reference's parse
              // error (case-insensitive; transform_select.cpp:294)
              if (!clauseNames.add(name))
                throw new IllegalArgumentException(
                  s"""Parser Error: window "$name" is already defined""")
              defs(name) = sql.substring(j + 1, close).trim
              spans += ((j + 1, close, name))
              consumedAny = true
              j = close + 1
              while (j < sql.length && sql.charAt(j).isWhitespace) j += 1
              if (j < sql.length && sql.charAt(j) == ',') { j += 1 }
              else more = false
            } else more = false
          } else more = false
        }
        i = if (consumedAny) j else i + 1
      } else i += 1
    }
    if (defs.isEmpty) return sql

    // chains: a def may itself lead with another window name — which
    // must be declared EARLIER (the reference's binder rejects forward
    // references: test_window_clause.test `w AS (base), base AS (...)`)
    val resolved = scala.collection.mutable.LinkedHashMap[String, String]()
    for ((k, v) <- defs) {
      val t = v.trim
      var e = 0
      while (e < t.length && isIdent(t.charAt(e))) e += 1
      val head = t.substring(0, e).toLowerCase
      resolved(k) =
        if (e > 0 && defs.contains(head)) {
          if (!resolved.contains(head))
            throw new IllegalArgumentException(
              s"""Binder Error: window "$head" does not exist""")
          (resolved(head) + " " + t.substring(e)).trim
        } else v
    }

    // splice chained defs in the WINDOW clause text itself (reverse
    // position order keeps earlier spans valid)
    var sql2 = sql
    for ((s, e, name) <- spans.sortBy(-_._1)
         if resolved(name) != defs(name))
      sql2 = sql2.substring(0, s) + resolved(name) + sql2.substring(e)

    // ranking/offset functions IGNORE a named window's frame clause in
    // the reference, while Spark rejects any frame but its required one
    // — strip the frame when splicing into such a call site
    val rankFamily = Set("row_number", "rank", "dense_rank", "percent_rank",
      "cume_dist", "ntile", "lag", "lead")
    def stripFrame(d: String): String = {
      val m = """(?is)\b(ROWS|RANGE|GROUPS)\b""".r.findFirstMatchIn(d)
      m.map(x => d.substring(0, x.start).trim).getOrElse(d)
    }
    def callerOf(t: SqlText, overAt: Int): String = {
      val s = t.text
      var j = overAt - 1
      while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
      if (j < 0 || s.charAt(j) != ')' || t.open(j) < 0) return ""
      j = t.open(j) - 1
      while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
      val e2 = j + 1
      while (j >= 0 && isIdent(s.charAt(j))) j -= 1
      s.substring(j + 1, e2).toLowerCase
    }

    // splice OVER (<name> [extras]) and bare OVER <name> — repeat until
    // no change (the string offsets shift after each splice)
    var cur = sql2
    var changed = true
    var rounds = 0
    while (changed && rounds < 64) {
      changed = false
      rounds += 1
      val ct = SqlText(cur)
      var k = 0
      while (!changed && k < cur.length) {
        if (ct.kwAt(k, "over")) {
          var p = k + 4
          while (p < cur.length && cur.charAt(p).isWhitespace) p += 1
          if (p < cur.length && cur.charAt(p) == '(' && ct.close(p) < cur.length) {
            val inner = cur.substring(p + 1, ct.close(p))
            val t = inner.trim
            var e = 0
            while (e < t.length && isIdent(t.charAt(e))) e += 1
            val head = t.substring(0, e).toLowerCase
            if (e > 0 && resolved.contains(head)) {
              // a parenthesized reference may not copy a window that has
              // its own frame clause (transform_expression.cpp:2119)
              if ("""(?is).*\b(ROWS|RANGE|GROUPS)\b.*""".r
                  .matches(resolved(head)))
                throw new IllegalArgumentException(
                  s"""Parser Error: cannot copy window "$head" because it has a frame clause""")
              val extra = t.substring(e).trim
              val spliced = (resolved(head) + " " + extra).trim
              cur = cur.substring(0, p + 1) + spliced + cur.substring(ct.close(p))
              changed = true
            }
          } else if (p < cur.length && isIdent(cur.charAt(p))) {
            // bare OVER name: splice only when the call site is a
            // ranking/offset function whose frame must be dropped —
            // otherwise Spark's native WINDOW-clause resolution handles it
            var e = p
            while (e < cur.length && isIdent(cur.charAt(e))) e += 1
            val head = cur.substring(p, e).toLowerCase
            if (resolved.contains(head) && rankFamily(callerOf(ct, k)) &&
                """(?is).*\b(ROWS|RANGE|GROUPS)\b.*""".r.matches(resolved(head))) {
              cur = cur.substring(0, p) + "(" + stripFrame(resolved(head)) +
                ")" + cur.substring(e)
              changed = true
            }
          }
        }
        k += 1
      }
    }
    cur
  }
}
