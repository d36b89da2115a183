package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, count, max, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

/** The buffer pool (`Tables.warm`) and the fixture loader
  * (`Tables.registerAll`), both of which run their ten per-table jobs
  * concurrently. Each test works on a private copy of the fixtures, so the
  * shared session's own plan-cache entries and temp views stay untouched.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  private val facts = Set("orders", "lineitem", "events", "documents", "embeddings")

  private def copyFixtures(except: Set[String] = Set.empty): Path = {
    val dir = Files.createTempDirectory("graft-tables")
    Tables.names.filterNot(except).foreach { n =>
      Files.copy(Path.of(GraftTest.sf, s"$n.parquet"), dir.resolve(s"$n.parquet"))
    }
    dir
  }

  private def remove(dir: Path): Unit = {
    Files.list(dir).iterator().asScala.foreach(Files.delete)
    Files.delete(dir)
  }

  private def fileRows(dir: Path, n: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(dir.resolve(s"$n.parquet").toString),
      spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }

  private def helperThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      .filter(n => n.startsWith("graft-warm-") || n.startsWith("graft-load-")).toSet

  private def statusTotals(dir: String): Seq[String] = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus", "l_returnflag")
      .agg(count("*"), sum(col("l_quantity").cast("decimal(18,2)")),
        sum("l_linenumber"), max("l_extendedprice"))
      .collect().map(_.toString).sorted.toSeq
  }

  test("warm pools all ten tables in their layout with the files' rows") {
    val dir = copyFixtures()
    val d = dir.toString
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    try {
      val unwarmed = statusTotals(d)
      Tables.warm(spark, d)
      assert(helperThreads.isEmpty, helperThreads)
      Tables.names.foreach { n =>
        val df: DataFrame = Tables.load(spark, d, n)
        val plan = df.queryExecution.withCachedData
        assert(plan.isInstanceOf[InMemoryRelation], s"$n is not pooled:\n$plan")
        assert(df.rdd.getNumPartitions == (if (facts(n)) par else 1), n)
        assert(df.count() == fileRows(dir, n), n)
      }
      assert(statusTotals(d) == unwarmed)
    } finally {
      Tables.names.foreach(n => Tables.load(spark, d, n).unpersist(blocking = true))
      remove(dir)
    }
  }

  test("a missing table fails warm and registerAll with its own error") {
    val dir = copyFixtures(except = Set("events"))
    val d = dir.toString
    val path = s"$d/events.parquet"
    try {
      val load = intercept[AnalysisException](Tables.registerAll(spark, d))
      assert(load.getMessage.contains(path), load.getMessage)
      assert(helperThreads.isEmpty, helperThreads)
      val warm = intercept[AnalysisException](Tables.warm(spark, d))
      assert(warm.getMessage.contains(path), warm.getMessage)
      assert(helperThreads.isEmpty, helperThreads)
    } finally {
      Tables.names.filterNot(_ == "events")
        .foreach(n => Tables.load(spark, d, n).unpersist(blocking = true))
      remove(dir)
    }
  }
}
