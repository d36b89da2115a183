package graft.functions

/** Reference function-chaining syntax: `expr.func(args)` is sugar for
  * `func(expr, args)` (src/parser/transform/expression/
  * transform_function.cpp — the dot-call desugars at parse time;
  * test/sql/parser/function_chaining.test). Chains compose left to
  * right: `v.lower().trim()` = `trim(lower(v))`.
  *
  * A dotted base can also be a SCHEMA-qualified function call
  * (`main.my_macro(x)`), which must NOT desugar — single-ident bases
  * naming a known schema are left alone. Bases handled: identifier
  * paths (`l.v.lower()`), string literals (`'abc'.len()`), and
  * completed call expressions (`f(x).g()`).
  */
private[functions] object FnChain {

  private val Keywords = Set("select", "where", "and", "or", "not",
    "then", "else", "when", "on", "by", "in", "like", "ilike", "as",
    "from", "values", "union", "all", "distinct", "having", "case",
    "exists", "between", "is", "end", "join", "using", "returning",
    "set", "limit", "offset", "order", "group", "over", "partition",
    "filter", "qualify", "lateral", "if", "coalesce_marker_")

  private val Schemas = Set("main", "system", "pg_catalog",
    "information_schema", "temp", "spark_catalog", "default")

  import SqlText.isIdent

  def apply(spark: org.apache.spark.sql.SparkSession, sql: String): String = {
    if (!sql.contains("(")) return sql
    // fast path: any `.name(` candidate at all?
    if (!java.util.regex.Pattern.compile("\\.\\s*[A-Za-z_][\\w$]*\\s*\\(")
        .matcher(sql).find()) return sql
    val skip = Schemas ++
      scala.util.Try(spark.catalog.listDatabases().collect()
        .map(_.name.toLowerCase).toSet).getOrElse(Set.empty[String])
    var out = sql
    var rounds = 0
    while (rounds < 32) {
      val next = rewriteOne(out, skip)
      if (next == null) return out
      out = next
      rounds += 1
    }
    out
  }

  /** One leftmost innermost rewrite, or null when nothing matches. */
  private def rewriteOne(s: String, skip: Set[String]): String = {
    val t = SqlText(s)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '.' && t.code(i) && i > 0) {
        // method-name + '(' must follow
        var j = i + 1
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        val nameStart = j
        while (j < s.length && isIdent(s.charAt(j))) j += 1
        val name = s.substring(nameStart, j)
        var k = j
        while (k < s.length && s.charAt(k).isWhitespace) k += 1
        if (name.nonEmpty && !name.head.isDigit && k < s.length && s.charAt(k) == '(') {
          val baseEnd = i // exclusive
          val baseStart = scanBase(t, i - 1)
          if (baseStart >= 0) {
            val base = s.substring(baseStart, baseEnd).trim
            // a pure dotted identifier path whose FIRST segment names a
            // known schema/catalog is a QUALIFIED function call
            // (main.f(x), system.main.sum(x)) — not a chain
            val identPath = base.nonEmpty && base.forall(c => isIdent(c) || c == '.')
            val isSchema = identPath &&
              skip.contains(base.split('.').head.toLowerCase)
            // skip float-literal bases and schema-qualified calls
            if (!isSchema && base.nonEmpty && !base.head.isDigit) {
              val close = t.close(k)
              if (close < s.length) {
                val args = s.substring(k + 1, close).trim
                val call =
                  if (args.isEmpty) s"$name($base)" else s"$name($base, $args)"
                return s.substring(0, baseStart) + call + s.substring(close + 1)
              }
            }
          }
        }
      }
      i += 1
    }
    null
  }

  /** Scan backwards from `end` (inclusive) over one base expression:
    * a dotted identifier path, a string literal, or a completed call
    * `ident(...)` (itself possibly dot-prefixed). Returns the start
    * index, or -1 when the context is not a chainable base. */
  private def scanBase(t: SqlText, end: Int): Int = {
    val s = t.text
    var p = end
    while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
    if (p < 0) return -1
    val c = s.charAt(p)
    if (c == '\'') {
      // string literal: scan to its opening quote
      var q = p - 1
      while (q >= 0 && !(s.charAt(q) == '\'' && (q == 0 || t.code(q - 1)))) q -= 1
      if (q < 0) -1 else q
    } else if (c == ')') {
      // completed call: balance to '(' then take the function name +
      // any dotted prefix before it
      val open = t.open(p)
      if (open < 0) return -1
      var r = open - 1
      while (r >= 0 && s.charAt(r).isWhitespace) r -= 1
      if (r < 0 || !isIdent(s.charAt(r))) open // parenthesized base: (v).f()
      else {
        val st = identPathStart(s, r)
        val word = s.substring(st, r + 1).toLowerCase
        // `SELECT (v).f()`: a KEYWORD before '(' means the parens ARE
        // the base, not a completed call
        if (Keywords.contains(word)) open else st
      }
    } else if (isIdent(c)) {
      val st = identPathStart(s, p)
      // a keyword base (e.g. `... WHERE x`) can't happen: bases end at
      // '.', and identPathStart stops at non-ident/non-dot boundaries
      st
    } else -1
  }

  /** Start of a dotted identifier path ending at `end` (inclusive). */
  private def identPathStart(s: String, end: Int): Int = {
    var p = end
    while (p >= 0) {
      if (isIdent(s.charAt(p))) p -= 1
      else if (s.charAt(p) == '.' && p > 0 && isIdent(s.charAt(p - 1))) p -= 1
      else return p + 1
    }
    0
  }
}
