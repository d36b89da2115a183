package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Query contract (SURVEY.md §7).
  *
  * Every implemented operator from SURVEY §2 appears here as a named query
  * over the fixture tables. Most queries are their DuckDB oracle text run
  * through the engine's front door (graft.engine.Sql); the oracle gate
  * (`graft.Verify` + `tools/check.py`) runs the same text on DuckDB over
  * the same parquet files. A query the text
  * cannot express as well keeps a hand-built body (`builtQueries`), and
  * approximate operators have no oracle (rows-only check).
  */
object SparkEntry {

  private val packs: Seq[Pack] =
    Seq(Relational, Aggregates, Windows, Functions, Pipeline, Sources, Conformance, DmlQueries, Ddl, Tpch, Tpcds, Tpcds2, Tpcds3, Tpcds4, Tpcds5, Tpcds6, Tpcds7, Tpcds8, Tpcds9, Tpcds10, Tpcds11, Tpcds12, Tpcds13, Tpcds14, Tpcds15, Tpcds16, Tpcds17, Tpcds18, Tpcds19, Suites, ClickBench, Job, Job2, H2o, Ldbc, NestedBench, Corpus, Types, Geospatial, CatalogOps)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    graft.engine.EngineSession.configure(spark)
    queries("q1_agg")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val raw = packs.flatMap(_.defs).toMap
    raw.map { case (name, fn) =>
      name -> { (s: SparkSession, dir: String) =>
        graft.engine.EngineSession.configure(s)
        fn(s, dir)
      }
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible /
    * approximate ops (driver records a rows-only check).
    */
  def oracleSql: Map[String, String] = packs.flatMap(_.oracle).toMap

  /** Oracle-gated queries that run a hand-built body instead of their
    * oracle text (see [[graft.queries.Pack]]). */
  def builtQueries: Set[String] = packs.flatMap(_.builtNames).toSet
}
