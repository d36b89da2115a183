package graft.functions

import scala.util.matching.Regex

/** One lexical pass over a SQL statement, shared by every rewrite pass
  * and statement module of the dialect layer (the reference lexes each
  * statement once, `src/parser/parser.cpp`; graft's rewrites are text
  * passes, so they read the same lexical facts from here instead).
  *
  * For each position it records:
  *  - the quote class: `'`, `"` or backtick (the quote characters
  *    themselves included), or ' ' outside quotes. The same character
  *    closes a quote; a doubled quote stays inside its literal (it closes
  *    and reopens at once); a backslash is not an escape (DuckDB's rule).
  *  - whether it is inside a comment: `--` to the end of the line, or
  *    `/* … */` with nesting, as Spark's lexer reads them. A Spark hint
  *    `/*+ … */` is masked like a comment, but [[SqlText.stripComments]]
  *    keeps it.
  *  - the bracket depth over `()`, `[]` and `{}` (an open bracket and its
  *    close both sit at the outer depth), and for each bracket the index
  *    of its partner.
  *
  * Quoted and commented positions are not code: keywords, brackets and
  * commas there do not count.
  */
final class SqlText private (val text: String) {
  import SqlText._

  val lower: String = text.toLowerCase

  // ' ' code, a quote character, Comment or Hint
  private val cls = new Array[Char](text.length)
  private val depthAt = new Array[Int](text.length)
  private val partner = Array.fill(text.length)(-1)

  locally {
    val n = text.length
    val stack = new Array[Int](n)
    var sp = 0
    var d = 0
    var i = 0
    def mark(from: Int, until: Int, c: Char): Unit = {
      var k = from
      while (k < until) { cls(k) = c; depthAt(k) = d; k += 1 }
    }
    while (i < n) {
      val c = text.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        val end = text.indexOf(c, i + 1)
        val until = if (end < 0) n else end + 1
        mark(i, until, c); i = until
      } else if (c == '-' && text.startsWith("-", i + 1)) {
        val end = text.indexOf('\n', i)
        val until = if (end < 0) n else end
        mark(i, until, Comment); i = until
      } else if (c == '/' && text.startsWith("*", i + 1)) {
        val kind = if (text.startsWith("+", i + 2)) Hint else Comment
        var level = 1
        var j = i + 2
        while (j < n && level > 0) {
          if (text.startsWith("/*", j)) { level += 1; j += 2 }
          else if (text.startsWith("*/", j)) { level -= 1; j += 2 }
          else j += 1
        }
        mark(i, j, kind); i = j
      } else {
        cls(i) = ' '
        if (c == '(' || c == '[' || c == '{') {
          depthAt(i) = d; stack(sp) = i; sp += 1; d += 1
        } else if (c == ')' || c == ']' || c == '}') {
          d -= 1; depthAt(i) = d
          if (sp > 0) { sp -= 1; partner(i) = stack(sp); partner(stack(sp)) = i }
        } else depthAt(i) = d
        i += 1
      }
    }
  }

  /** True when position `i` is code: neither quoted nor in a comment. */
  def code(i: Int): Boolean = cls(i) == ' '

  /** The quote character whose literal or identifier covers `i`, else ' '. */
  def quote(i: Int): Char = cls(i) match {
    case Comment | Hint => ' '
    case c => c
  }

  def depth(i: Int): Int = depthAt(i)

  /** Index of the bracket that closes the one at `open`; the text length
    * when it is never closed. */
  def close(open: Int): Int = if (partner(open) >= 0) partner(open) else text.length

  /** Index of the bracket that the close at `close` matches, or -1. */
  def open(close: Int): Int = partner(close)

  /** Keyword `kw` (lower case) at `i`, in code and on identifier
    * boundaries. */
  def kwAt(i: Int, kw: String): Boolean =
    i >= 0 && i < text.length && code(i) && lower.startsWith(kw, i) &&
      (i == 0 || !isIdent(lower.charAt(i - 1))) &&
      (i + kw.length >= text.length || !isIdent(lower.charAt(i + kw.length)))

  /** First depth-0 occurrence of any keyword in `kws`, at or after
    * `from`: (index, keyword), or (-1, null). */
  def findKw(from: Int, kws: String*): (Int, String) = {
    val ks = kws.toArray
    var i = math.max(from, 0)
    while (i < text.length) {
      if (depthAt(i) == 0 && code(i)) {
        var k = 0
        while (k < ks.length) {
          if (kwAt(i, ks(k))) return (i, ks(k))
          k += 1
        }
      }
      i += 1
    }
    (-1, null)
  }

  /** The text split on depth-0 commas, each part trimmed, empty parts
    * dropped. */
  def splitTop: Seq[String] = splitAt(0, 0, text.length)

  /** Arguments of the bracket group opening at `open` (split on its own
    * commas) and the index just past its close. */
  def argsAt(open: Int): (Seq[String], Int) = {
    if (partner(open) < 0)
      throw new IllegalArgumentException(s"unbalanced parentheses in: $text")
    val close = partner(open)
    (splitAt(depthAt(open) + 1, open + 1, close), close + 1)
  }

  private def splitAt(d: Int, from: Int, until: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = from
    var i = from
    while (i < until) {
      if (text.charAt(i) == ',' && depthAt(i) == d && code(i)) {
        out += text.substring(start, i); start = i + 1
      }
      i += 1
    }
    out += text.substring(start, until)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Positions inside a `(SELECT …)` group: a subquery's own scope. */
  def inSubquery: Array[Boolean] = {
    val in = new Array[Boolean](text.length)
    var i = 0
    while (i < text.length) {
      if (code(i) && text.charAt(i) == '(') {
        var k = i + 1
        while (k < text.length && text.charAt(k).isWhitespace) k += 1
        if (kwAt(k, "select")) java.util.Arrays.fill(in, i, close(i), true)
      }
      i += 1
    }
    in
  }

  private def comment(i: Int): Boolean = cls(i) == Comment
}

object SqlText {
  private val Comment = '/'
  private val Hint = '+'

  def apply(text: String): SqlText = new SqlText(text)

  def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_' || c == '$'

  def splitTop(s: String): Seq[String] = SqlText(s).splitTop

  /** `re.replaceAllIn(s, f)`, except that a match starting in a quote or
    * a comment is kept as it is. */
  def replaceUnquoted(s: String, re: Regex)(f: Regex.Match => String): String = {
    val ms = re.findAllMatchIn(s)
    if (!ms.hasNext) return s
    val t = SqlText(s)
    val sb = new StringBuilder
    var pos = 0
    var changed = false
    ms.foreach { m =>
      if (m.start < s.length && t.code(m.start)) {
        sb.append(s.substring(pos, m.start)).append(f(m))
        pos = m.end
        changed = true
      }
    }
    if (!changed) s else sb.append(s.substring(pos)).toString
  }

  /** `s` with every comment replaced by one space (a line comment's
    * newline stays). Hints stay: Spark reads them. */
  def stripComments(s: String): String = {
    if (s.indexOf("--") < 0 && s.indexOf("/*") < 0) return s
    val t = SqlText(s)
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (t.comment(i)) {
        while (i < s.length && t.comment(i)) i += 1
        sb.append(' ')
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }
}
