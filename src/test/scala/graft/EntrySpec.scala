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
}
