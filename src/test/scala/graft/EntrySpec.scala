package graft

import org.scalatest.funsuite.AnyFunSuite

class EntrySpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has either an oracle or is intentionally rows-only") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs))
    val rowsOnly = qs -- os
    // approximate / nondeterministic / custom-expression ops only
    assert(rowsOnly.forall(n =>
      n.contains("approx") || n.contains("sample") || n.contains("simhash") ||
        n.contains("lsh") || n.contains("embedding") || n.contains("multimodal") ||
        n.contains("lttb") || n.contains("reservoir") || n.contains("ivf")),
      s"unexpected rows-only queries: $rowsOnly")
  }

  test("all queries run at sf0.001 and return rows") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        if (fn(spark, GraftTest.sf).count() >= 0) None else Some(name)
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("configure registers every graft rule exactly once") {
    graft.engine.EngineSession.configure(spark)
    graft.engine.EngineSession.configure(spark)
    val extra = spark.experimental.extraOptimizations
    assert(extra.count(_ eq graft.plans.SmallTopSort) == 1, extra)
    assert(extra.count(_ eq graft.plans.AutoHashJoin) == 1, extra)
    val resolution = spark.sessionState.analyzer.extendedResolutionRules
    Seq(graft.plans.IntCondToBool, graft.plans.DisableTzCasts,
      graft.plans.StructCastToVariant, graft.plans.ListPlusToConcat,
      graft.plans.AliasResolution).foreach { r =>
      assert(resolution.exists(_ eq r), s"$r missing from $resolution")
    }
  }

  // Every environment variable and `spark.graft.*` conf key the engine
  // reads. A new option has to be added here, in plain view of review.
  test("engine options are exactly the allowlisted ones") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    // a read whose key is not a string literal shows up as <dynamic>
    val envRead = """(?:sys\.env|System\.getenv)\b(?:\.\w+)?\s*\(?\s*(?:"([^"]*)")?""".r
    val confKey = "\"(spark\\.graft\\.[^\"]*)\"".r
    val env = sources.flatMap(envRead.findAllMatchIn(_))
      .map(m => Option(m.group(1)).getOrElse("<dynamic>")).toSet
    val conf = sources.flatMap(confKey.findAllMatchIn(_)).map(_.group(1)).toSet
    assert(env == Set("SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS"))
    assert(conf == Set(
      "spark.graft.smallsort.maxBytes", "spark.graft.smallsort.maxRows",
      "spark.graft.shufflehash.maxBuildBytes",
      "spark.graft.configured", "spark.graft.timezone.display"))
  }

  // The dialect layer reads quotes, comments and brackets through one
  // scanner, graft.functions.SqlText. A private copy of its helpers
  // elsewhere fails here. (CsvSniffer lexes CSV, not SQL.)
  test("SQL text scanning helpers are defined only in SqlText") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val helper = ("""\bdef\s+(scan|scanFull|quoteMask|parenMaps|splitArgs|scanArgs|""" +
      """splitTop|replaceUnquoted|kwAt|isIdent|identChar|topLevelComma)\b""").r
    val found = files(root)
      .filter(f => f.getName.endsWith(".scala") && f.getName != "CsvSniffer.scala")
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        helper.findAllMatchIn(text).map(m => f.getName -> m.group(1))
      }
    assert(found.nonEmpty)
    assert(found.forall(_._1 == "SqlText.scala"),
      s"outside SqlText.scala: ${found.filter(_._1 != "SqlText.scala")}")
  }

  // Each AudioSystem/MidiSystem call scans the classpath for sound
  // providers under a JVM-wide lock; once per row, that was about half of
  // the multimodal feature query. Multimodal resolves its WAV writer and
  // reader once, and calls AudioSystem only for a payload that reader
  // rejects.
  test("sound providers are looked up only in Multimodal's fallback") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val call = """\b(?:AudioSystem|MidiSystem)\.(\w+)\s*\(""".r
    val found = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      call.findAllMatchIn(text).map(m => f.getName -> m.group(1))
    }
    assert(found == Seq("Multimodal.scala" -> "getAudioInputStream"), found)
  }

  // Oracle-gated queries that keep a hand-built body instead of running
  // their oracle text through the front door, by reason. A query leaves
  // this list when its text returns the same rows with a plan no worse;
  // a new hand-built twin has to be added here, in plain view of review.
  test("hand-built queries are exactly the allowlisted ones") {
    // an operator or pipeline kernel SQL cannot reach
    val operator = Set(
      "q_dedup_clusters", "q_dedup_embedding", "q_dedup_minhash_pairs",
      "q_dedup_minhash_sig", "q_dedup_ngram_jaccard", "q_dedup_simhash",
      "q_dedup_span", "q_join_positional", "q_ldbc_bi10", "q_ldbc_bi9",
      "q_multimodal_frames", "q_pack_sequences", "q_pipeline_e2e",
      "q_sim_topk_lsh", "q_text_fingerprint", "q_text_langid", "q_text_redact",
      "q_text_repetition", "q_text_tokens", "q_window_fill_global",
      "q_window_median_unbounded", "q_window_quantile_unbounded")
    // a DuckDB spelling the front door does not accept yet, or reads
    // differently (q_cb28: Spark unescapes the backslash in '\\1')
    val dialect = Set(
      "q_bitstring_agg", "q_cb28", "q_cb_regex_topk", "q_collate_accent_ci",
      "q_ds49_return_rank", "q_ds50_return_lag_buckets", "q_ds59_yoy_revenue",
      "q_ds62_ship_lag", "q_ds64_repeat_channel_price",
      "q_ds72_lagged_fulfillment", "q_ds93_returns_adjusted",
      "q_ds99_ship_lag_buckets", "q_embed_centroid", "q_fn_case_cast",
      "q_fn_datetime", "q_fn_hash", "q_fn_json2", "q_fn_json4", "q_fn_json5",
      "q_fn_list", "q_fn_math", "q_fn_patterns", "q_fn_regex", "q_fn_string2",
      "q_fn_struct_map", "q_fn_timezone", "q_fn_vector", "q_geo_wkt", "q_jb1",
      "q_jb2", "q_jb3", "q_jb4", "q_jb5", "q_ldbc_bi1", "q_ldbc_bi11",
      "q_ldbc_bi13", "q_ldbc_bi14", "q_ldbc_bi2", "q_ldbc_bi3", "q_ldbc_bi4",
      "q_ldbc_bi5", "q_ldbc_bi6", "q_ldbc_bi7", "q_ldbc_bi8", "q_ldbc_ic2",
      "q_ldbc_ic3", "q_ldbc_ic5", "q_ldbc_ic6", "q_ldbc_ic7", "q_limit_percent",
      "q_list_agg", "q_orderby_collate", "q_pivot_dynamic", "q_range_series",
      "q_range_timestamps", "q_read_blob", "q_read_text", "q_repeat",
      "q_rn_filter", "q_rn_intersect", "q_rn_map", "q_rn_slice",
      "q_rn_transform_agg", "q_rn_unique", "q_sample_system", "q_sequence",
      "q_sessionize", "q_string_agg", "q_text_chunk", "q_text_vocab",
      "q_type_decimal38", "q_type_enum", "q_type_hugeint", "q_type_interval",
      "q_type_time", "q_type_union", "q_type_variant", "q_union_by_name",
      "q_unnest", "q_window_exclude", "q_window_exclude_modes", "q_window_fill",
      "q_window_ignore_nulls", "q_window_median")
    // the text returns the same rows but plans more joins, exchanges,
    // scans or aggregates than the body, or a shape PlanSpec rejects
    val plan = Set(
      "q_agg_distinct", "q_catalog_columns", "q_contamination", "q_csv_quoted",
      "q_csv_roundtrip", "q_csv_sniff", "q_ds11_channel_growth",
      "q_ds30_return_outliers", "q_ds31_qoq_growth", "q_ds51_cumulative_channels",
      "q_ds74_yoy_names", "q_ds81_return_outliers_geo", "q_ds84_income_band_chain",
      "q_filename_glob", "q_grouping_sets", "q_join_iejoin", "q_json_roundtrip",
      "q_nested_parquet", "q_recursive_key", "q_window_distinct_count",
      "q_window_global")
    // perfbench's analytic queries (perfbench/workloads.py ANALYTIC)
    val perfbench = Set(
      "q_dedup_exact", "q_join_asof", "q_join_inner", "q_join_range",
      "q_multimodal_features", "q_recursive_cte", "q_sim_topk", "q_text_quality",
      "q_window_ranking")
    // the body runs statements, writes tables or files, or binds
    // parameters before its query
    val setup = Set(
      "q_attach_query", "q_bucketed_join", "q_catalog_tvf", "q_copy_roundtrip",
      "q_ddl_alter", "q_ddl_fk", "q_ddl_generated", "q_describe", "q_dml_merge",
      "q_dml_update_from", "q_dml_upsert", "q_export_roundtrip", "q_pg_catalog",
      "q_prepared_params")
    val groups = Seq(operator, dialect, plan, perfbench, setup)
    assert(groups.map(_.size).sum == groups.reduce(_ ++ _).size, "a name is in two groups")
    val built = SparkEntry.builtQueries
    val allowed = groups.reduce(_ ++ _)
    assert(built == allowed,
      s"not allowlisted: ${built -- allowed}; allowlisted but not hand-built: ${allowed -- built}")
  }
}
