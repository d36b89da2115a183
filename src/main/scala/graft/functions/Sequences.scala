package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}

/** Reference CREATE SEQUENCE / nextval / currval / setval emulation
  * (`/root/reference/src/catalog/catalog_entry/sequence_catalog_entry.cpp`,
  * parser defaults `src/parser/peg/transformer/transform_create_sequence
  * .cpp`): a session-local scalar-function surface over in-memory counter
  * state.
  *
  * Semantics mirrored exactly:
  *  - `counter` IS the next value to hand out (initialized to START);
  *    nextval returns it, then advances with overflow detection; CYCLE
  *    wraps the advanced counter to min/max, non-CYCLE raises the
  *    reference's "reached maximum/minimum value" diagnostic
  *  - currval returns the last handed-out value, raising "not yet
  *    defined in this session" before the first nextval
  *  - setval(name, v[, is_called=true]) bounds-checks v, sets the
  *    counter, and with is_called behaves as if nextval just returned v
  *  - defaults: INCREMENT 1, and (min, max, start) derived from the
  *    increment sign exactly like the transformer (processed in option
  *    order, explicit values win)
  *  - the sequence NAME must be a constant (the reference's binder
  *    error); a NULL name yields SQL NULL
  *
  * Scope (documented): this is the reference's SCALAR-FUNCTION surface.
  * The state lives in the driver/executor JVM keyed by session — correct
  * on local mode and for driver-evaluated expressions; transactional,
  * WAL-backed sequences are a storage feature the engine does not model
  * (SURVEY §2.9), and a 100 TB pipeline generating surrogate keys should
  * use monotonically_increasing_id / row_number instead.
  */
object Sequences {

  final class SeqState(val inc: Long, val min: Long, val max: Long,
      val cycle: Boolean, val start: Long) {
    private var counter: Long = start // next value to hand out
    private var last: Option[Long] = None

    def lastValue: Option[Long] = synchronized(last)

    def nextval(name: String): Long = synchronized {
      val result = counter
      var overflow = false
      val next =
        try Math.addExact(counter, inc)
        catch { case _: ArithmeticException => overflow = true; 0L }
      if (cycle) {
        counter =
          if (overflow) { if (inc < 0) max else min }
          else if (next < min) max
          else if (next > max) min
          else next
      } else {
        if (result < min || (overflow && inc < 0))
          throw new IllegalArgumentException(
            s"""Sequence Error: nextval: reached minimum value of sequence "$name" ($min)""")
        if (result > max || overflow)
          throw new IllegalArgumentException(
            s"""Sequence Error: nextval: reached maximum value of sequence "$name" ($max)""")
        counter = next
      }
      last = Some(result)
      result
    }

    def currval(): Long = synchronized {
      last.getOrElse(throw new IllegalArgumentException(
        "Sequence Error: currval: sequence is not yet defined in this session"))
    }

    def setval(name: String, v: Long, isCalled: Boolean): Long = synchronized {
      if (v < min || v > max)
        throw new IllegalArgumentException(
          s"""Sequence Error: setval: value $v is out of bounds for sequence "$name" ($min..$max)""")
      counter = v
      if (isCalled) nextval(name) else v
    }
  }

  // JVM-global, keyed by session + lowercased name: tasks in local mode
  // share the JVM with the driver, so per-row nextval calls inside
  // generated code reach the same state object.
  private val states =
    new java.util.concurrent.ConcurrentHashMap[String, SeqState]()

  // Per-session UUID in a WeakHashMap: identityHashCode is NOT unique
  // (two live sessions can collide; a new session can reuse a GC'd one's
  // hash) and would pin dropped sessions' state forever. Weak keys let a
  // dead session's id — and, via the id prefix, nothing else — be
  // collected; its sequence entries are bounded garbage keyed by a UUID
  // no new session can ever mint again.
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  def sessionKey(spark: SparkSession): String =
    "seq:" + sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  /** Unquote, lowercase and schema-qualify a possibly quoted spelling
    * ('"main"."seq"', 'a.seq', 'seq' → main.seq). Unterminated quotes
    * and >2-part names raise like the reference's catalog lookup
    * (test_sequence.test: nextval('"a"."seq'), nextval('a.b.c.d')). */
  private def normalize(raw: String): String = {
    val segs = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    var q = false
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (q) { if (c == '"') q = false else sb.append(c) }
      else if (c == '"') q = true
      else if (c == '.') { segs += sb.toString; sb.setLength(0) }
      else sb.append(c)
      i += 1
    }
    if (q)
      throw new IllegalArgumentException(
        s"Parser Error: unterminated quoted identifier in sequence name: $raw")
    segs += sb.toString
    val parts = segs.map(_.trim.toLowerCase).toSeq
    parts.length match {
      case 1 => "main." + parts.head
      case 2 => parts.mkString(".")
      case _ => throw new IllegalArgumentException(
        s"Catalog Error: invalid sequence name: $raw")
    }
  }

  def lookup(sessionKey: String, rawName: String): SeqState = {
    val st = states.get(sessionKey + ":" + normalize(rawName))
    if (st == null)
      throw new IllegalArgumentException(
        s"""Catalog Error: Sequence with name ${normalize(rawName)} does not exist!""")
    st
  }

  /** Drop every sequence of the session (hermetic test runners). */
  def clear(spark: SparkSession): Unit = {
    val prefix = sessionKey(spark) + ":"
    states.keySet.removeIf(_.startsWith(prefix))
  }

  /** `duckdb_sequences()` — the reference's sequence-catalog TVF
    * (test_duckdb_sequences.test), inlined as a VALUES relation over the
    * session's live sequence states, same pattern as
    * [[Macros.expandAll]]'s duckdb_functions() rewrite. */
  def rewriteDuckdbSequences(spark: SparkSession, sql: String): String = {
    val re = """(?i)\bduckdb_sequences\s*\(\s*\)""".r
    if (re.findFirstIn(sql).isEmpty) return sql
    val prefix = sessionKey(spark) + ":"
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    states.forEach { (k, st) =>
      if (k.startsWith(prefix)) {
        val qualified = k.substring(prefix.length)
        val Array(schema, name) = qualified.split("\\.", 2)
        val lastV = st.lastValue.map(String.valueOf)
          .getOrElse("CAST(NULL AS BIGINT)")
        // escape quotes: a quoted identifier may itself contain '
        def lit(s: String): String = "'" + s.replace("'", "''") + "'"
        rows += s"(${lit(schema)}, ${lit(name)}, false, ${st.start}, ${st.min}, " +
          s"${st.max}, ${st.inc}, ${st.cycle}, $lastV)"
      }
    }
    val rel =
      if (rows.isEmpty)
        "(SELECT CAST(NULL AS STRING) AS schema_name, CAST(NULL AS STRING) AS sequence_name, " +
          "CAST(NULL AS BOOLEAN) AS temporary, CAST(NULL AS BIGINT) AS start_value, " +
          "CAST(NULL AS BIGINT) AS min_value, CAST(NULL AS BIGINT) AS max_value, " +
          "CAST(NULL AS BIGINT) AS increment_by, CAST(NULL AS BOOLEAN) AS cycle, " +
          "CAST(NULL AS BIGINT) AS last_value WHERE 1=0)"
      else
        s"(SELECT * FROM VALUES ${rows.mkString(", ")} AS t(schema_name, " +
          "sequence_name, temporary, start_value, min_value, max_value, " +
          "increment_by, cycle, last_value))"
    SqlText.replaceUnquoted(sql, re)(_ => rel)
  }

  // the quoted alternative carries the same qualified continuation as the
  // bare one, so CREATE SEQUENCE "s1"."seq" captures the WHOLE name (a
  // bare-first alternation would match "s1" and swallow '."seq"' into the
  // options text, silently creating main.s1)
  private val SeqName = """(?:"[^"]+"|[\w$]+)(?:\s*\.\s*(?:"[^"]+"|[\w$]+))*"""
  private val CreateRe =
    ("""(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?SEQUENCE\s+(IF\s+NOT\s+EXISTS\s+)?(""" +
      SeqName + """)\s*(.*?);?\s*""").r
  private val DropRe =
    ("""(?is)\s*DROP\s+SEQUENCE\s+(IF\s+EXISTS\s+)?(""" + SeqName + """)(?:\s+CASCADE|\s+RESTRICT)?\s*;?\s*""").r

  def isSequenceDdl(sql: String): Boolean =
    CreateRe.matches(sql) || DropRe.matches(sql)

  def execute(spark: SparkSession, sql: String): Unit = sql match {
    case CreateRe(orReplace, ifNotExists, rawName, opts) =>
      create(spark, rawName, opts, orReplace != null, ifNotExists != null)
    case DropRe(ifExists, rawName) =>
      val name = normalize(rawName)
      // dependency tracking (test_sequence_dependency.test): a table
      // whose column DEFAULT calls nextval('name') blocks the drop —
      // same scan scope as the constraint registry (current db + temps)
      locally {
        val needle = ("(?i)\\bnextval\\s*\\(\\s*'(\"?)" +
          java.util.regex.Pattern.quote(name.split('.').last) + "\\1'").r
        val cat = spark.sessionState.catalog
        val tables =
          cat.listLocalTempViews("*").map(_.table) ++
            (try cat.listTables(spark.catalog.currentDatabase).map(_.table)
             catch { case _: Throwable => Seq.empty })
        val dependent = tables.distinct.find { t =>
          try spark.table(s"`$t`").schema.fields.exists(f =>
            (f.metadata.contains("CURRENT_DEFAULT") || f.metadata.contains("GRAFT_DEFAULT")) &&
              needle.findFirstIn(Dml.defaultExpr(f)).isDefined)
          catch { case _: Throwable => false }
        }
        dependent.foreach(t => throw new IllegalArgumentException(
          s"""Dependency Error: Cannot drop entry "$name" because there are entries that depend on it (table "$t")."""))
      }
      val k = sessionKey(spark) + ":" + name
      if (states.remove(k) == null && ifExists == null)
        throw new IllegalArgumentException(
          s"Catalog Error: Sequence with name $name does not exist!")
    case _ =>
      throw new IllegalArgumentException(s"not a sequence statement: $sql")
  }

  private def create(spark: SparkSession, rawName: String, optText: String,
      orReplace: Boolean, ifNotExists: Boolean): Unit = {
    // counters live in THIS JVM: on a multi-executor master each executor
    // would silently fork its own sequence — refuse loudly instead and
    // point at the distributed-safe alternatives
    if (!spark.sparkContext.isLocal)
      throw new UnsupportedOperationException(
        "CREATE SEQUENCE: sequence counters are JVM-local and only correct " +
          "on a local master; on a cluster use row_number() or " +
          "monotonically_increasing_id() for surrogate keys")
    val name = normalize(rawName)
    // option scan in textual order (the transformer processes options in
    // order: an INCREMENT only installs sign-derived min/max defaults
    // when no explicit MINVALUE/MAXVALUE was seen yet)
    var inc = 1L
    var min = 1L
    var max = Long.MaxValue
    var start = Option.empty[Long]
    var cycle = false
    var minSet = false
    var maxSet = false
    val tok =
      """(?is)(INCREMENT(?:\s+BY)?\s+(-?\d+))|(MINVALUE\s+(-?\d+))|(MAXVALUE\s+(-?\d+))|(START(?:\s+WITH)?\s+(-?\d+))|(NO\s+MINVALUE)|(NO\s+MAXVALUE)|(NO\s+CYCLE)|(CYCLE)""".r
    // each option at most once (transform_create_sequence.cpp: CYCLE and
    // NO CYCLE share a key; NO MINVALUE/MAXVALUE collide with the valued
    // spellings too)
    val seen = scala.collection.mutable.Set[String]()
    def once(key: String): Unit =
      if (!seen.add(key))
        throw new IllegalArgumentException(
          s"Parser Error: ${key.capitalize} should be passed at most once")
    for (m <- tok.findAllMatchIn(optText)) {
      if (m.group(1) != null) once("increment")
      else if (m.group(3) != null || m.group(9) != null) once("minvalue")
      else if (m.group(5) != null || m.group(10) != null) once("maxvalue")
      else if (m.group(7) != null) once("start")
      else once("cycle")
    }
    for (m <- tok.findAllMatchIn(optText)) {
      if (m.group(1) != null) {
        inc = m.group(2).toLong
        if (inc == 0)
          throw new IllegalArgumentException(
            "Parser Error: Increment must not be zero")
        if (inc < 0) {
          if (!minSet) min = Long.MinValue
          if (!maxSet) max = -1L
        } else {
          if (!maxSet) max = Long.MaxValue
          if (!minSet) min = 1L
        }
      } else if (m.group(3) != null) { min = m.group(4).toLong; minSet = true }
      else if (m.group(5) != null) { max = m.group(6).toLong; maxSet = true }
      else if (m.group(7) != null) start = Some(m.group(8).toLong)
      else if (m.group(9) != null) () // NO MINVALUE: keep default
      else if (m.group(10) != null) ()
      else if (m.group(11) != null) cycle = false
      else cycle = true
    }
    val startV = start.getOrElse(if (inc < 0) max else min)
    if (max <= min)
      throw new IllegalArgumentException(
        s"Parser Error: MINVALUE ($min) must be less than MAXVALUE ($max)")
    if (startV < min)
      throw new IllegalArgumentException(
        s"Parser Error: START value ($startV) cannot be less than MINVALUE ($min)")
    if (startV > max)
      throw new IllegalArgumentException(
        s"Parser Error: START value ($startV) cannot be greater than MAXVALUE ($max)")
    val k = sessionKey(spark) + ":" + name
    val st = new SeqState(inc, min, max, cycle, startV)
    if (orReplace) states.put(k, st)
    else if (ifNotExists) states.putIfAbsent(k, st)
    else if (states.putIfAbsent(k, st) != null)
      throw new IllegalArgumentException(
        s"""Catalog Error: Sequence with name "$name" already exists!""")
  }
}

/** nextval / currval / setval call site. Nondeterministic (every call
  * mutates or reads live counter state — the optimizer must not fold,
  * dedup, or reorder it); the sequence NAME was already pinned to a
  * constant at registration, so only setval's value/flag are children.
  */
case class SeqValExpr(sessionKey: String, mode: String, name: Option[String],
    children: Seq[Expression])
    extends Expression with Nondeterministic with CodegenFallback {
  override def prettyName: String = mode
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = {
    if (name.isEmpty) return null
    val st = Sequences.lookup(sessionKey, name.get)
    mode match {
      case "nextval" => st.nextval(name.get)
      case "currval" => st.currval()
      case "setval" =>
        val v = children.head.eval(input)
        if (v == null) return null
        val called =
          if (children.length < 2) true
          else {
            val c = children(1).eval(input)
            if (c == null) return null
            c.asInstanceOf[Boolean]
          }
        st.setval(name.get, v.asInstanceOf[java.lang.Number].longValue, called)
    }
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression = copy(children = cs)
}
