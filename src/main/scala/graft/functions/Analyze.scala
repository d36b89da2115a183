package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ANALYZE / VACUUM statements (reference test/sql/vacuum/test_analyze
  * .test; src/execution/operator/helper/physical_vacuum.cpp).
  *
  * The reference's ANALYZE recomputes table distinct-count statistics;
  * Spark's equivalent is `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL
  * COLUMNS`, which feeds the CBO join-reorder and broadcast decisions
  * the session already enables (EngineSession: spark.sql.cbo.*). VACUUM
  * without ANALYZE is a no-op here exactly like the reference (no MVCC
  * garbage to collect), but keeps the reference's binder errors: a
  * missing table and a (permanent) view both reject.
  *
  * Corpus-importer note: imported base tables materialize as TEMP VIEWS
  * (the importer fuses CREATE TABLE + INSERT); Spark cannot attach
  * catalog statistics to those, so ANALYZE on a temp view succeeds as a
  * no-op — `statement ok` semantics, no stats gained.
  */
object Analyze {

  private val HeadRe = """(?is)^\s*(VACUUM|ANALY[SZ]E)\b""".r
  private val Re =
    ("""(?is)^\s*(?:VACUUM\s+ANALY[SZ]E|VACUUM|ANALY[SZ]E)\s*""" +
      """((?:"[^"]+"|`[^`]+`|[\w$]+)(?:\s*\.\s*(?:"[^"]+"|`[^`]+`|[\w$]+))*)?""" +
      """\s*(?:\(([^)]*)\))?\s*;?\s*$""").r

  def matches(sql: String): Boolean =
    HeadRe.findFirstIn(sql).isDefined && Re.findFirstMatchIn(sql).isDefined

  private def statsWanted(sql: String): Boolean =
    """(?i)ANALY[SZ]E""".r.findFirstIn(sql).isDefined

  def execute(spark: SparkSession, sql: String): DataFrame = sql match {
    case Re(table, cols) =>
      if (table == null) {
        // bare ANALYZE/VACUUM: stats over every managed table of the
        // current database (views and temp views carry no stats)
        if (statsWanted(sql)) {
          val cat = spark.sessionState.catalog
          cat.listTables(spark.catalog.currentDatabase).foreach { ti =>
            val isTable =
              try cat.getTableMetadata(ti).tableType.name != "VIEW"
              catch { case _: Throwable => false }
            if (isTable)
              try spark.sql(s"ANALYZE TABLE `${ti.database.getOrElse("default")}`.`${ti.table}` " +
                "COMPUTE STATISTICS FOR ALL COLUMNS").collect()
              catch { case _: Throwable => () }
          }
        }
        spark.emptyDataFrame
      } else {
        val bare = Dml.unq(table.split('.').last.trim)
        val exists =
          try { spark.table(table); true } catch { case _: Throwable => false }
        if (!exists) throw new IllegalArgumentException(
          s"Catalog Error: Table with name $bare does not exist!")
        val isView = Dml.isTempView(spark, table) ||
          (try spark.catalog.getTable(bare).tableType == "VIEW"
           catch { case _: Throwable => false })
        if (isView) throw new IllegalArgumentException(
          "Binder Error: Can only vacuum or analyze base tables!")
        if (statsWanted(sql)) {
          // Spark column stats cover atomic types only; nested columns
          // (the reference's non-HLL stats) keep table-level stats
          import org.apache.spark.sql.types._
          val atomic = spark.table(table).schema.fields
            .filter(_.dataType match {
              case _: ArrayType | _: MapType | _: StructType | NullType |
                   CalendarIntervalType | _: DayTimeIntervalType |
                   _: YearMonthIntervalType => false
              case _ => true
            })
            .map(_.name.toLowerCase).toSet
          val wanted = Option(cols).map(_.trim).filter(_.nonEmpty)
            .map(c => SqlText.splitTop(c).map(Dml.unq))
            .getOrElse(spark.table(table).schema.fieldNames.toSeq)
            .filter(n => atomic.contains(n.toLowerCase))
          val colSql =
            if (wanted.isEmpty) ""
            else "FOR COLUMNS " + wanted.map(n => s"`$n`").mkString(", ")
          spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS $colSql").collect()
        }
        spark.emptyDataFrame
      }
    case _ => throw new IllegalArgumentException(s"not an ANALYZE/VACUUM statement: $sql")
  }
}
