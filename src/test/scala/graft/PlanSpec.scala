package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: correctness tests prove WHAT is computed; these
  * prove the physical plan is the one that survives a 100 TB scale-up —
  * filters reach the parquet scan, projections prune the read schema,
  * dimensions broadcast instead of shuffling the fact table, top-N never
  * materializes a full sort, and aggregates run partial+final.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, GraftTest.sf)
      .queryExecution.executedPlan.toString

  test("scan pushdown: filters + column pruning reach the parquet reader") {
    val p = planOf("q_scan_pushdown")
    assert(p.contains("PushedFilters:") && p.contains("LessThan(l_quantity,3.0)"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema"))
    // projection pruning: the 16-column lineitem scan must not read l_tax
    assert(!p.contains("l_tax"), "read schema not pruned")
  }

  test("geo queries stay row-local and prune the scan to the key columns") {
    // ST_ ops are pure column math: the customer scan must read only the
    // two columns the points derive from, and the only exchange is the
    // final per-nation aggregation
    val p = planOf("q_geo_distance")
    assert(!p.contains("c_name") && !p.contains("c_acctbal"), "scan not pruned")
    val exchanges = "Exchange".r.findAllIn(p.replace("BroadcastExchange", "")).size
    assert(exchanges <= 2, s"geo distance should shuffle only for the groupBy:\n$p")
    // ring metrics is a pure per-row projection: no aggregate, no join
    val rm = planOf("q_geo_ring_metrics")
    assert(!rm.contains("HashAggregate") && !rm.contains("Join"),
      s"ring metrics should be projection-only:\n$rm")
  }

  test("TPC-H Q5: all five dimension joins broadcast; fact table never shuffles for a join") {
    val p = planOf("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join fell back to SMJ:\n$p")
  }

  test("top-n compiles to TakeOrderedAndProject (no full sort)") {
    val p = planOf("q_topn")
    assert(p.contains("TakeOrderedAndProject"), s"no top-n operator:\n$p")
  }

  test("Q1 aggregate runs partial+final with no Expand") {
    val p = planOf("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial aggregation:\n$p")
    assert(!p.contains("Expand"), s"unexpected Expand in plain group-by:\n$p")
  }

  test("grouping sets expand runs over the pre-aggregate, not the fact table") {
    val p = planOf("q_grouping_sets")
    // Expand must consume a HashAggregate output (the tiny base), i.e. the
    // scan feeds an aggregate BEFORE any Expand appears in the tree.
    val expandIdx = p.indexOf("Expand")
    assert(expandIdx >= 0, s"no grouping sets expand:\n$p")
    assert(p.substring(expandIdx).contains("HashAggregate"),
      s"Expand is not on top of the pre-aggregate:\n$p")
  }

  test("semi join planned as LeftSemi (never materializes the subquery side)") {
    val p = planOf("q_join_semi")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
  }

  test("minhash signatures come from the one-pass expression") {
    val p = planOf("q_dedup_minhash_sig")
    assert(p.contains("minhash_signature"), s"SQL-chain minhash still in plan:\n$p")
  }

  test("LSH candidate pairs run as ONE banded self-join, not a per-band union") {
    val p = planOf("q_dedup_minhash_pairs")
    // the per-band formulation unioned `bands` independent self-joins
    // (bands× the stages, bands× the signature scans); the one-pass shape
    // posexplodes all band codes from a single scan
    assert(!p.contains("Union"), s"per-band union stack is back:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).nonEmpty,
      s"bucket cap list not broadcast:\n$p")
  }

  test("bucketed join reads co-located buckets — no join-side shuffle") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, GraftTest.sf)
    val p = df.queryExecution.executedPlan.toString
    // allowed exchanges: the groupBy and the final sort; the merge join
    // itself must consume the bucketed scans without repartitioning
    assert(p.contains("SortMergeJoin"), s"no merge join:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed join still shuffles lineitem:\n$p")
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join still shuffles orders:\n$p")
  }

  test("global-order window queries never move all rows to one task") {
    // q_window_global / exclude / distinct_count used to plan an
    // Exchange SinglePartition via Window.orderBy with no partitionBy —
    // the rewrites (broadcast global agg; ChunkedWindow) must not.
    // q_window_global: no Window operator at all — the global sum is a
    // scalar aggregate broadcast back (its partial→final merge moves 32
    // one-row partials, not data rows)
    locally {
      val df = SparkEntry.queries("q_window_global")(spark, GraftTest.sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"q_window_global still plans a Window:\n$p")
    }
    for (name <- Seq("q_window_exclude", "q_window_distinct_count")) {
      val df = SparkEntry.queries(name)(spark, GraftTest.sf)
      df.collect() // finalize the AQE plan
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("hashpartitioning(_chunk"),
        s"$name window not partitioned by chunk:\n$p")
      // at most ONE single-partition exchange: the terminal small-sort
      // funnel (graft.plans.SmallTopSort) over the tiny RESULT — the
      // window evaluation itself stays chunk-partitioned (assert above).
      // (AQE's toString repeats the plan as "== Initial Plan ==" — count
      // inside the final section only.)
      val finalP = p.split("== Initial Plan ==").head
      assert("Exchange SinglePartition".r.findAllIn(finalP).size <= 1,
        s"$name still funnels data rows through one task:\n$p")
    }
    // q_pack_sequences on a SINGLE-language corpus (the adversarial case:
    // a real pretraining corpus is ~90% one language) — keyedRunningSum
    // must refine the lang partitioning with the doc_id chunk so the
    // running sum never funnels one task, and the result must still equal
    // the plain per-key window's.
    locally {
      import spark.implicits._
      val docs = (1 to 5000)
        .map(i => ("en", i.toLong, (i % 37) + 1)).toDF("lang", "doc_id", "n_tok")
      val packed = graft.operators.ChunkedWindow
        .keyedRunningSum(docs, Seq("lang"), "doc_id", $"n_tok", "start_tok")
      packed.collect()
      val p = packed.queryExecution.executedPlan.toString
      assert(p.contains("hashpartitioning(lang") && p.contains("_chunk"),
        s"running sum not (lang, chunk)-partitioned:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"single-language packing still funnels rows through one task:\n$p")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val expect = docs.withColumn("start_tok",
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum($"n_tok").over(w),
          org.apache.spark.sql.functions.lit(0L)))
      val got = packed.select("doc_id", "start_tok").as[(Long, Long)]
        .collect().toMap
      val exp = expect.select("doc_id", "start_tok").as[(Long, Long)]
        .collect().toMap
      assert(got == exp, "shard-carry running sum diverges from plain window")
    }
    // q_window_fill_global: UNBOUNDED frames over the full stream — the
    // carry windows must partition by the range chunk (two-pass prefix
    // scan), never collapse to one task
    locally {
      val df = SparkEntry.queries("q_window_fill_global")(spark, GraftTest.sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("hashpartitioning(_chunk"),
        s"carry windows not chunk-partitioned:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"q_window_fill_global still funnels rows through one task:\n$p")
    }
  }

  test("inequality joins run banded — no broadcast nested loop on either side") {
    // q_join_range / q_join_iejoin used to rely on broadcast-NLJ, which has
    // no escape hatch when neither side fits a broadcast at 100 TB.
    // RangeJoin's banded plan joins on the band id: an ordinary equi-join
    // that can shuffle both sides.
    for (name <- Seq("q_join_range", "q_join_iejoin")) {
      val p = planOf(name)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name still plans broadcast-NLJ:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }

  test("RangeJoin.autoLess dispatches NLJ at broadcastable scale, banded past the threshold") {
    // measured at sf0.1: theta-NLJ 0.19 s vs banded 0.29 s when a side
    // broadcasts — so autoLess must only pay the banding once neither
    // side fits (the 100 TB case, simulated by threshold = -1)
    val sup = graft.engine.Tables.supplier(spark, GraftTest.sf)
      .select("s_suppkey", "s_acctbal", "s_nationkey")
    val c = graft.engine.Tables.customer(spark, GraftTest.sf)
      .select("c_custkey", "c_acctbal", "c_nationkey")
    def planAuto(): String = graft.operators.RangeJoin.autoLess(
        c, "c_acctbal", sup, "s_acctbal")
      .queryExecution.executedPlan.toString
    assert(planAuto().contains("BroadcastNestedLoopJoin"),
      "small sides should take the broadcast path")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = planAuto()
      assert(!p.contains("BroadcastNestedLoopJoin") && p.contains("__graft_band"),
        s"un-broadcastable sides must take the banded plan:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("TPC-DS snowflake joins broadcast every dimension, no cartesian") {
    val p = planOf("q_ds19_brand_by_nation_mismatch")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, s"expected broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in snowflake:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join fell back to SMJ:\n$p")
    for (name <- Seq("q_ds3_brand_revenue", "q_ds7_item_averages", "q_ds27_rollup_averages")) {
      val pp = planOf(name)
      assert(!pp.contains("CartesianProduct"), s"$name has a cartesian:\n$pp")
    }
  }

  test("TPC-H/TPC-DS queries that run their text: no cartesian, no BNLJ") {
    import graft.queries._
    val packs = Seq(Tpch, Tpcds, Tpcds2, Tpcds3, Tpcds4, Tpcds5, Tpcds6, Tpcds7,
      Tpcds8, Tpcds9, Tpcds10, Tpcds11, Tpcds12, Tpcds13, Tpcds14, Tpcds15,
      Tpcds16, Tpcds17, Tpcds18, Tpcds19)
    val texts = packs.flatMap(p => p.oracle.keySet -- p.builtNames).sorted
    assert(texts.size > 90, texts)
    for (name <- texts) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      // q15's threshold is a scalar percentile: its one BNLJ joins a
      // single-row side
      if (name != "q_ds15_top_percentile")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans NLJ:\n$p")
    }
  }

  test("dynamic partition pruning fires on a partitioned-table join") {
    import org.apache.spark.sql.functions._
    val dir = "/tmp/graft_dpp/orders_by_status"
    graft.engine.Tables.orders(spark, GraftTest.sf)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    // the dim must be file-backed: a literal dim constant-folds into a
    // STATIC partition filter before DPP ever gets a chance
    val dimDir = "/tmp/graft_dpp/status_dim"
    spark.createDataFrame(Seq(("F", 1), ("O", 2), ("P", 3)))
      .toDF("st", "grp").write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.parquet(dir)
    val dim = spark.read.parquet(dimDir).filter(col("grp") === 1)
    val joined = fact.join(dim, fact("o_orderstatus") === dim("st"))
      .groupBy("o_orderstatus").count()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$p")
  }

  test("TPC-DS batch 2 and suite-pack joins: no cartesians, dims broadcast") {
    for (name <- Seq("q_ds5_channel_rollup", "q_ds14_cross_channel",
        "q_ds33_brand_union_agg", "q_ds37_part_bands",
        "q_ds51_cumulative_channels", "q_ds65_low_suppliers",
        "q_h2o_join_dim", "q_contamination")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
    }
    // the key dim join and the blocklist semi-join must broadcast: at
    // 100 TB the events/documents side cannot move for a KB-sized build
    assert(planOf("q_h2o_join_dim").contains("BroadcastHashJoin"))
    val contam = planOf("q_contamination")
    assert(contam.contains("BroadcastHashJoin") && contam.contains("LeftSemi"),
      s"blocklist semi-join not broadcast:\n$contam")
  }

  test("JOB join graphs: no cartesians, tiny dims broadcast, facts never BNLJ") {
    // every family representative + the 8-relation monsters; Catalyst's
    // ReorderJoin must cluster the comma-join WHERE graph into inner
    // joins with the filtered dims applied before fact-fact joins
    for (name <- Seq("q_job01a", "q_job02a", "q_job03a", "q_job04a",
        "q_job05a", "q_job06a", "q_job07a", "q_job08a", "q_job09a",
        "q_job10a", "q_job07c", "q_job09d",
        // r8 families 11-17 — incl. the 9-relation 13a/15a monsters
        "q_job11a", "q_job12a", "q_job13a", "q_job14a", "q_job15a",
        "q_job16a", "q_job17a", "q_job15b", "q_job17f",
        // r8 families 18-33 — incl. the 12-relation 28a, the
        // 17-relation 29a monster, and the 14-relation self-join 33a
        "q_job18a", "q_job19a", "q_job20a", "q_job21a", "q_job22a",
        "q_job23a", "q_job24a", "q_job25a", "q_job26a", "q_job27a",
        "q_job28a", "q_job29a", "q_job30a", "q_job31a", "q_job32a",
        "q_job33a", "q_job29c", "q_job33c")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name BNLJ:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$name: no dim broadcast at all:\n$p")
    }
  }

  test("ClickBench shapes: single scan, partial agg, top-k never global-sorts") {
    // q09: group+count distinct -> partial/final HashAggregate, one scan
    val p9 = planOf("q_cb09")
    assert(!p9.contains("Join"), s"cb09 should not join:\n$p9")
    // q33: high-card group + ORDER BY c LIMIT -> TakeOrdered, no Sort-all
    val p33 = planOf("q_cb33")
    assert(p33.contains("TakeOrderedAndProject"),
      s"cb33 top-k does not take-order:\n$p33")
    // q20: LIKE filter must reach the scan as a pushed/startswith filter
    val p20 = planOf("q_cb00")
    assert(p20.contains("HashAggregate"), s"cb00 lost hash agg:\n$p20")
  }

  test("h2o join pack: dim joins broadcast, fact-fact join shuffles on the key") {
    val j2 = planOf("q_h2o_j02")
    assert(j2.contains("BroadcastHashJoin"), s"j02 medium dim not broadcast:\n$j2")
    val j5 = planOf("q_h2o_j05")
    assert(!j5.contains("CartesianProduct") &&
      !j5.contains("BroadcastNestedLoopJoin"), s"j05 degraded:\n$j5")
  }

  test("span dedup and repetition signals keep single-shuffle / row-local shapes") {
    // repetition: pure row-local HOF fold — the only exchange is the
    // output ordering's range partitioning, never a join/agg shuffle
    val rep = planOf("q_text_repetition")
    assert(!rep.contains("Join"), s"repetition should not join:\n$rep")
    assert("hashpartitioning".r.findAllIn(rep).isEmpty,
      s"repetition should not hash-shuffle:\n$rep")
    // span dedup: pre-grouped (span, doc) then re-aggregated — no
    // two-phase Expand from countDistinct
    val span = planOf("q_dedup_span")
    assert(!span.contains("Expand"), s"span dedup regressed to Expand:\n$span")
    assert(span.contains("HashAggregate"), s"span dedup lost map-side combine:\n$span")
  }

  test("TPC-DS batches 5-10: no cartesians; aggregates precede self-joins") {
    for (name <- Seq("q_ds39_qty_cov", "q_ds47_brand_deviation", "q_ds59_yoy_revenue",
        "q_ds93_returns_adjusted", "q_ds36_rollup_rank", "q_ds1_return_ratio",
        "q_ds44_best_worst", "q_ds4_yoy_growth", "q_ds92_excess_discount",
        "q_ds97_channel_overlap", "q_ds25_rebuy_chain", "q_ds49_return_rank",
        "q_ds75_prior_year_delta", "q_ds87_except_chain", "q_ds77_channel_pl",
        "q_ds61_promo_ratio", "q_ds83_returns_intersect", "q_ds67_rollup_topk",
        "q_ds70_ranked_states", "q_ds46_nation_mismatch",
        "q_ds45_inlist_or_exists", "q_ds69_exists_not_exists", "q_ds78_netted_yoy")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans NLJ:\n$p")
    }
    // cov/self-join shapes must aggregate before joining (partial+final
    // HashAggregate below the join, never a fact×fact join)
    val cov = planOf("q_ds39_qty_cov")
    assert(cov.indexOf("HashAggregate") >= 0, s"q39 lost its pre-join aggregate:\n$cov")
  }

  test("TPC-DS batches 14-15: no cartesians; year_total CTEs aggregate before self-joins") {
    for (name <- Seq("q_ds2_weekday_matrix_yoy", "q_ds11_channel_growth",
        "q_ds74_yoy_names", "q_ds30_return_outliers", "q_ds32_excess_discount",
        "q_ds38_triple_intersect", "q_ds12_class_share_web",
        "q_ds20_class_share_catalog", "q_ds16_multi_warehouse_noret",
        "q_ds18_rollup_averages", "q_ds22_inventory_rollup",
        "q_ds81_return_outliers_geo")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans BNLJ:\n$p")
    }
    // the q11 4-way self-join must consume per-(customer, year) aggregates
    // (HashAggregate below every join input), never raw fact x fact
    val q11 = planOf("q_ds11_channel_growth")
    assert(q11.contains("HashAggregate"), s"q11 lost its pre-join aggregates:\n$q11")
    // q30/q81 per-nation stats are tiny aggregates and must broadcast back
    val q30 = planOf("q_ds30_return_outliers")
    assert(q30.contains("BroadcastHashJoin"), s"q30 stats not broadcast:\n$q30")
    // class shares window over the grouped aggregate, not the fact table
    val q12 = planOf("q_ds12_class_share_web")
    assert(q12.indexOf("Window") < q12.lastIndexOf("HashAggregate"),
      s"q12 windows over the fact table:\n$q12")
  }

  test("TPC-DS batches 16-19: no cartesians; per-order aggregates precede customer joins") {
    for (name <- Seq("q_ds26_demo_averages", "q_ds28_band_triples",
        "q_ds29_return_rebuy_chain", "q_ds40_pivot_refunds", "q_ds48_band_blocks",
        "q_ds50_return_lag_buckets", "q_ds52_brand_revenue",
        "q_ds55_brand_revenue_prior", "q_ds56_color_channels",
        "q_ds60_category_channels", "q_ds57_monthly_deviation",
        "q_ds63_manager_deviation", "q_ds68_city_mismatch_sums",
        "q_ds71_brand_by_day_channels", "q_ds73_small_basket_customers",
        "q_ds79_monday_profit", "q_ds80_channel_pnl_rollup",
        "q_ds82_item_band_demand", "q_ds84_income_band_chain",
        "q_ds85_reason_averages", "q_ds86_rollup_rank_hierarchy",
        "q_ds89_monthly_vs_avg", "q_ds91_return_loss_report",
        "q_ds94_web_multi_supplier_noret", "q_ds99_ship_lag_buckets")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans BNLJ:\n$p")
    }
    // q28: ONE scan with conditional aggregates, not six cross-joined
    // scalar subqueries — exactly one parquet scan in the plan
    val q28 = planOf("q_ds28_band_triples")
    assert("Scan parquet".r.findAllIn(q28).size == 1,
      s"q28 scans more than once:\n$q28")
    // q16/q94 existence gates must stay semi/anti joins
    for (name <- Seq("q_ds16_multi_warehouse_noret", "q_ds94_web_multi_supplier_noret")) {
      val p = planOf(name)
      assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
        s"$name existence gates not semi/anti:\n$p")
    }
    // deviation windows (q57/q63/q89) run over grouped rows: the Window
    // operator sits above a HashAggregate, and the rollup ranks (q86)
    // window over the Expand aggregate
    for (name <- Seq("q_ds57_monthly_deviation", "q_ds63_manager_deviation",
        "q_ds89_monthly_vs_avg")) {
      val p = planOf(name)
      assert(p.indexOf("Window") < p.lastIndexOf("HashAggregate"),
        s"$name windows over the fact table:\n$p")
    }
  }

  test("banding quantile pass runs once per (plan, column) — repeats spend zero jobs") {
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // unique data so no earlier test warmed this cache entry
    val df = (1 to 4321).map(i => (i.toLong, (i * 13 % 977).toDouble))
      .toDF("bq_id", "bq_v")
    spark.sparkContext.addSparkListener(listener)
    try {
      def settle(): Unit = { Thread.sleep(400) } // listener bus drain
      graft.operators.Banding.cuts(df, "bq_v", 32, 0.01)
      settle()
      val first = jobs.get()
      assert(first > 0, "first cuts derivation should run a quantile job")
      graft.operators.Banding.cuts(df, "bq_v", 32, 0.01)
      settle()
      assert(jobs.get() == first,
        s"repeated cuts derivation re-ran the quantile pass (${jobs.get()} != $first)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("TPC-DS batch 4 monsters: aggregates before self-joins, stacked semi/anti") {
    for (name <- Seq("q_ds64_repeat_channel_price", "q_ds72_lagged_fulfillment",
        "q_ds95_multi_supplier_orders")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans BNLJ:\n$p")
    }
    // ds64: the cross-year self-join consumes GROUPED outputs (partial+
    // final agg below the join), never raw lineitem on both sides
    val p64 = planOf("q_ds64_repeat_channel_price")
    assert("HashAggregate".r.findAllIn(p64).size >= 2, s"ds64 agg not below join:\n$p64")
    // ds95: both gates plan as semi/anti joins, not materialized distincts
    val p95 = planOf("q_ds95_multi_supplier_orders")
    assert(p95.contains("LeftSemi") && p95.contains("LeftAnti"),
      s"ds95 gates not semi/anti:\n$p95")
  }

  test("chunking explodes row-locally — no shuffle before the generator") {
    // the only exchange allowed is the final presentation sort; the
    // explode itself must not repartition (at scale the generator runs
    // in the scan stage)
    val p = planOf("q_text_chunk")
    val genIdx = p.indexOf("Generate")
    assert(genIdx >= 0, s"no generator in chunking plan:\n$p")
    assert(!p.substring(genIdx).contains("Exchange"),
      s"shuffle below the chunk generator:\n$p")
  }

  test("EXISTS-OR battery plans as existence joins, not separate scans per branch") {
    val p = planOf("q_ds10_prospects")
    assert(!p.contains("CartesianProduct"), s"cartesian in EXISTS battery:\n$p")
    assert(p.contains("ExistenceJoin") || p.contains("LeftSemi"),
      s"no existence/semi join for EXISTS:\n$p")
  }

  test("tuneForScale derives cluster-shaped settings from input size") {
    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.constraintPropagation.enabled")
      .map(k => k -> conf.get(k))
    try {
      // 8 MB workload: small fanout, AQE + constraint propagation off
      // (analysis tax), broadcast floor 1 MB
      graft.engine.EngineSession.tuneForScale(spark, 8L << 20)
      assert(conf.get("spark.sql.shuffle.partitions").toInt == 8)
      assert(conf.get("spark.sql.adaptive.enabled") == "false")
      assert(conf.get("spark.sql.autoBroadcastJoinThreshold").toLong == (1L << 20))
      assert(conf.get("spark.sql.constraintPropagation.enabled") == "false")
      // 1 TB workload: fanout capped at 4x cores, AQE + constraint
      // propagation on (inferred filters prune real data), broadcast cap
      // 64 MB — a fact table never qualifies
      graft.engine.EngineSession.tuneForScale(spark, 1L << 40)
      assert(conf.get("spark.sql.shuffle.partitions").toInt ==
        4 * spark.sparkContext.defaultParallelism)
      assert(conf.get("spark.sql.adaptive.enabled") == "true")
      assert(conf.get("spark.sql.autoBroadcastJoinThreshold").toLong == (64L << 20))
      assert(conf.get("spark.sql.constraintPropagation.enabled") == "true")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("LDBC graph joins: no cartesians/BNLJ; jsonbench stays single-shuffle") {
    // the derived-graph joins (knows/message/tag fan-outs) must plan as
    // hash/broadcast joins — an LDBC shape degrading to a cartesian is
    // exactly the 100 TB failure mode this pack exists to guard
    // NOTE: the graph derivation crossJoins BROADCAST single-row
    // aggregates (|customer|, |part| mod bases) — those plan as BNLJ
    // against a one-row build side, which is the intended scalar
    // attachment. The guard is against unbroadcast cartesians.
    for (name <- Seq("q_ldbc_bi1", "q_ldbc_bi4", "q_ldbc_bi8",
        "q_ldbc_bi13", "q_ldbc_ic2", "q_ldbc_ic3", "q_ldbc_ic5",
        "q_jb2", "q_jb4", "q_rn_transform_agg")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
    }
    // jsonbench: row-local JSON build+extract, then ONE hash-agg
    // exchange — no join, no extra shuffle
    val jb = planOf("q_jb1")
    assert("Exchange".r.findAllIn(jb).size <= 2, // partial->final agg + sort
      s"q_jb1 shuffles more than the one aggregation:\n$jb")
  }

  test("terminal ORDER BY single-partitions when the input is provably small") {
    // graft.plans.SmallTopSort: the final sort's range exchange (whose
    // partitioner SAMPLES the child — a whole extra job re-running the
    // last stage) collapses to one single-partition exchange + in-task
    // sort when the stats gate says the query is small
    val df = SparkEntry.queries("q1_agg")(spark, GraftTest.sf)
    val fast = df.collect().toSeq
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("rangepartitioning"),
      s"terminal sort kept the range exchange:\n$p")
    assert(p.contains("SinglePartition"),
      s"no single-partition exchange for the terminal sort:\n$p")
    // ORDER BY + LIMIT is untouched: TakeOrderedAndProject keeps planning
    assert(planOf("q_topn").contains("TakeOrderedAndProject"))
    // row multiset AND total order identical to the range-sort plan
    val key = "spark.graft.smallsort.maxBytes"
    val saved = spark.conf.get(key, (128L << 20).toString)
    try {
      spark.conf.set(key, "0") // gate off -> classic global sort
      val refDf = SparkEntry.queries("q1_agg")(spark, GraftTest.sf)
      assert(refDf.queryExecution.executedPlan.toString
        .contains("rangepartitioning"), "gate=0 should keep the range sort")
      assert(refDf.collect().toSeq == fast,
        "single-partition sort changed the result")
    } finally spark.conf.set(key, saved)
  }

  test("large-result terminal sorts keep the parallel range sort (row gate)") {
    // r15: the byte gate alone admitted q_h2o_g10's ~98k-row all-keys
    // grouping into one sort task (the one real r14 regression). The row
    // gate blocks the rewrite when a PROVABLE output bound exceeds
    // spark.graft.smallsort.maxRows.
    import org.apache.spark.sql.functions._
    // (a) grouped aggregate whose key NDV bound is derivable from the key
    // expression itself (x % n): product 200001 > 65536 default
    val agg = graft.engine.Tables.orders(spark, GraftTest.sf)
      .groupBy((col("o_orderkey") % 100000).as("k"))
      .agg(count(lit(1)).as("n")).orderBy("k")
    val withGate = agg.queryExecution.executedPlan.toString
    assert(withGate.contains("rangepartitioning"),
      s"NDV-bounded large aggregate should keep the range sort:\n$withGate")
    // (b) cardinality-preserving spine over a known row count (Range
    // defines maxRows): window output == input
    val rowsKey = "spark.graft.smallsort.maxRows"
    val saved = spark.conf.get(rowsKey, "65536")
    try {
      spark.conf.set(rowsKey, "100")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(expr("id % 4")).orderBy("id")
      val win = spark.range(200).select(col("id"),
        sum("id").over(w).as("s")).orderBy("id", "s")
      val p = win.queryExecution.executedPlan.toString
      assert(p.contains("rangepartitioning"),
        s"window over 200 known rows must not single-partition at maxRows=100:\n$p")
      // row gate off -> the r14 byte-gate behavior returns
      spark.conf.set(rowsKey, "0")
      val agg2 = graft.engine.Tables.orders(spark, GraftTest.sf)
        .groupBy((col("o_orderkey") % 100000).as("k"))
        .agg(count(lit(1)).as("n")).orderBy("k")
      assert(agg2.queryExecution.executedPlan.toString.contains("SinglePartition"))
      // result equality across both routes
      spark.conf.set(rowsKey, saved)
      assert(agg.collect().toSeq == agg2.collect().toSeq,
        "row-gate route changed the result")
    } finally spark.conf.set(rowsKey, saved)
  }

  test("AutoHashJoin: bounded build flips SMJ to shuffled-hash, results equal") {
    // r15 (guide §3.1): equi joins whose smaller JOIN-FREE side is above
    // the broadcast threshold but under maxBuildBytes plan ShuffledHashJoin
    // instead of SortMergeJoin; bound=0 restores sort-merge; a
    // broadcastable side is never downgraded.
    val bcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val buildKey = "spark.graft.shufflehash.maxBuildBytes"
    val savedB = spark.conf.get(bcastKey)
    val savedM = spark.conf.get(buildKey, (128L << 20).toString)
    val o = graft.engine.Tables.orders(spark, GraftTest.sf)
      .select("o_orderkey", "o_custkey")
    val l = graft.engine.Tables.lineitem(spark, GraftTest.sf)
      .select("l_orderkey", "l_quantity")
    def planOfJoin(): String = {
      val j = l.join(o, l("l_orderkey") === o("o_orderkey"))
      j.queryExecution.executedPlan.toString
    }
    try {
      spark.conf.set(bcastKey, "-1") // nothing broadcasts
      spark.conf.set(buildKey, (128L << 20).toString)
      val shj = planOfJoin()
      assert(shj.contains("ShuffledHashJoin"),
        s"bounded build should plan shuffled-hash:\n$shj")
      spark.conf.set(buildKey, "0")
      val smj = planOfJoin()
      assert(smj.contains("SortMergeJoin"),
        s"bound=0 should keep sort-merge:\n$smj")
      // same rows either route (order-insensitive compare)
      spark.conf.set(buildKey, (128L << 20).toString)
      val a = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .collect().map(_.toString).sorted.toSeq
      spark.conf.set(buildKey, "0")
      val b = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .collect().map(_.toString).sorted.toSeq
      assert(a == b, "join route changed the result multiset")
      // broadcastable side is never downgraded to SHJ
      spark.conf.set(bcastKey, (64L * 1024 * 1024).toString)
      spark.conf.set(buildKey, (128L << 20).toString)
      val bhj = planOfJoin()
      assert(bhj.contains("BroadcastHashJoin"),
        s"broadcastable side must stay broadcast:\n$bhj")
    } finally {
      spark.conf.set(bcastKey, savedB)
      spark.conf.set(buildKey, savedM)
    }
  }

  test("whole-stage codegen covers the Q1 hot path") {
    // under AQE codegen stages exist only in the FINAL executed plan,
    // rendered as "*(n)" span markers
    val df = SparkEntry.queries("q1_agg")(spark, GraftTest.sf)
    df.collect() // count() would plan a NEW query; collect finalizes THIS one
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"plan never finalized:\n$p")
    assert(p.contains("*("), s"no whole-stage codegen spans in final plan:\n$p")
  }
}
