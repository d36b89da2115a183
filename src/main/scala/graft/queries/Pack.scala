package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ListBuffer

/** A named set of queries feeding SparkEntry.
  *
  * A query is its DuckDB oracle text: `q(name, sql)` runs that text through
  * the engine's front door (`graft.engine.Sql`) over the fixture tables,
  * and the oracle gate runs the same text on DuckDB (exact match). Only a
  * query the text cannot express as well is hand-built (`built`): an
  * operator SQL cannot reach, a dialect gap of the front door, a plan the
  * text makes worse, statements that must run before the query, or one of
  * perfbench's analytic queries. EntrySpec allowlists each by reason.
  */
abstract class Pack {
  type QueryFn = (SparkSession, String) => DataFrame
  private val items = ListBuffer[(String, QueryFn, Option[String])]()
  private val builtItems = ListBuffer[String]()

  /** Register a query whose oracle text is also the engine's query. */
  protected def q(name: String, sql: String): Unit = {
    val text = sql.stripMargin.trim
    items += ((name, { (s: SparkSession, dir: String) =>
      graft.engine.Tables.registerAll(s, dir)
      graft.engine.Sql.execute(s, text)
    }, Some(text)))
  }

  /** Register a hand-built query checked against a DuckDB oracle text. */
  protected def built(name: String, sql: String)(fn: QueryFn): Unit = {
    items += ((name, fn, Some(sql.stripMargin.trim)))
    builtItems += name
  }

  /** Register a query with only a rows>0 check (approx/nondeterministic ops). */
  protected def qRowsOnly(name: String)(fn: QueryFn): Unit =
    items += ((name, fn, None))

  /** Run statements through the engine's front door (graft.engine.Sql). */
  protected def exec(s: SparkSession, stmts: String*): Unit =
    stmts.foreach(graft.engine.Sql.execute(s, _).collect())

  /** Delete a managed location left under the warehouse: a prior driver
    * round's session (fresh in-memory metastore) leaves the DIRECTORY
    * behind even though the catalog entry is gone, and the next CREATE
    * fails with LOCATION_ALREADY_EXISTS. */
  protected def purgeWarehouse(s: SparkSession, name: String): Unit = {
    val wh = s.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:").stripPrefix("//")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(wh, name))
  }

  final def defs: Map[String, QueryFn] = items.map(i => (i._1, i._2)).toMap
  /** Oracle-gated queries with a hand-built body rather than their text. */
  final def builtNames: Set[String] = builtItems.toSet
  final def oracle: Map[String, String] =
    items.collect { case (n, _, Some(s)) => (n, s) }.toMap
}

/** Cross-engine determinism helpers.
  *
  * Doubles are summed via DECIMAL so that Spark's and DuckDB's different
  * accumulation orders cannot change the result (decimal addition is exact
  * and associative); the final value is cast back to DOUBLE.
  */
object Q {
  val S = "decimal(18,6)"
  def dsumSql(e: String): String = s"CAST(sum(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE)"
  def davgSql(e: String): String =
    s"(CAST(sum(CAST(($e) AS DECIMAL(18,6))) AS DOUBLE) / count(*))"
  def ts(s: String): Column = lit(s).cast("timestamp")

  // -- fixed-point BIGINT accumulation -------------------------------------
  //
  // The reference's optimizer swaps sum→sum_no_overflow when statistics
  // prove the accumulator cannot overflow (statistics propagation,
  // /root/reference/src/optimizer/optimizer.cpp:408-415). Same idea here:
  // when a column is known fixed-point (all fixture money/qty columns are
  // 2-decimal) and the 64-bit accumulator provably fits, sum the scaled
  // BIGINT mantissas — Spark's long sum stays in whole-stage codegen and
  // runs ~2x faster than the decimal path. Both engines compute the exact
  // same integer, then apply the identical int→double cast and division,
  // so results stay hash-identical. Queries where the range is NOT provably
  // bounded keep the DECIMAL helpers above.
  /** round(x·10^dp) as BIGINT — the exact fixed-point mantissa. */
  def fx(c: Column, dp: Int): Column =
    round(c * math.pow(10, dp).toLong).cast("bigint")
  def fxSql(e: String, dp: Int): String =
    s"CAST(round(($e) * ${math.pow(10, dp).toLong}) AS BIGINT)"
  /** Exact fixed-point sum, rendered back to DOUBLE. */
  def fsum(c: Column, dp: Int): Column =
    sum(fx(c, dp)).cast("double") / math.pow(10, dp)
  def fsumSql(e: String, dp: Int): String =
    s"(CAST(sum(${fxSql(e, dp)}) AS DOUBLE) / ${math.pow(10, dp).toLong}.0)"
  /** Exact fixed-point average (sum/count in double at the end). */
  def favgSql(e: String, dp: Int): String =
    s"(${fsumSql(e, dp)} / count(*))"
}
