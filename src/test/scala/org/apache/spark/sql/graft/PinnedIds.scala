package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExprId, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.types.LongType

/** Test frames whose first column carries a chosen Catalyst expression id.
  * Which id a table's column gets depends on everything the JVM planned
  * before it (and on the order of the concurrent table loads), so a plan
  * defect tied to one id shows only now and then in a full run; pinning
  * the id makes it show every time. Lives in the spark.sql namespace to
  * reach `Dataset.ofRows`.
  */
object PinnedIds {

  /** Non-null BIGINT columns `names` over `rows`; the first column has
    * expression id `firstId`, the others fresh ids. Fresh ids are drawn
    * past `firstId` first, so no id made from here on (these columns', or
    * a later plan's) repeats the pinned one. */
  def longs(spark: SparkSession, firstId: Long, names: Seq[String],
      rows: Seq[Seq[Long]]): DataFrame = {
    while (NamedExpression.newExprId.id <= firstId) {}
    val attrs = names.zipWithIndex.map { case (n, i) =>
      AttributeReference(n, LongType, nullable = false)(
        exprId = if (i == 0) ExprId(firstId) else NamedExpression.newExprId)
    }
    Dataset.ofRows(spark.asInstanceOf[ClassicSession],
      LocalRelation(attrs, rows.map(r => InternalRow.fromSeq(r))))
  }
}
