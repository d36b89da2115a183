package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.EngineSession

/** The session's static configuration: the size of Spark's JVM-wide
  * compiled-class cache (`EngineSession.CodegenCacheEntries`), and that a
  * working set of queries, once compiled, is never compiled again. */
class EngineSessionSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  // the benchmark's analytic set: one query per operator family
  private val analytic = Seq(
    "q_join_inner", "q_join_asof", "q_join_range", "q_window_ranking",
    "q_recursive_cte", "q_dedup_exact", "q_sim_topk", "q_text_quality",
    "q_multimodal_features")

  test("the session carries the engine's compiled-class cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      EngineSession.CodegenCacheEntries.toString)
  }

  test("a second pass over the analytic queries, in another order, compiles no class") {
    val queries = SparkEntry.queries
    def pass(names: Seq[String]): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      names.foreach(n => queries(n)(spark, GraftTest.sf).collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass(analytic)
    val second = pass(analytic.reverse)
    assert(second == 0, s"first pass compiled $first classes, the second $second")
  }
}
