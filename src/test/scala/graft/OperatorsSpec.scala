package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AsOfJoin, PositionalJoin, RecursiveCTE}

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = GraftTest.spark

  test("as-of join picks nearest predecessor per key") {
    import spark.implicits._
    val left = Seq((1L, 10L, "e1"), (1L, 25L, "e2"), (2L, 5L, "e3"), (1L, 3L, "e4"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 5L, 100.0), (1L, 20L, 200.0), (2L, 6L, 300.0))
      .toDF("k", "rt", "v")
    val out = AsOfJoin.backward(left, right, "k", "t", "rt", Seq("v"))
      .collect().map(r => r.getAs[String]("name") ->
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)).toMap
    assert(out("e1") == Some(100.0)) // t=10 → rt=5
    assert(out("e2") == Some(200.0)) // t=25 → rt=20
    assert(out("e3") == None)        // t=5 < first rt=6
    assert(out("e4") == None)        // t=3, nothing before
  }

  test("as-of join <= vs < at equal timestamps") {
    import spark.implicits._
    val left = Seq((1L, 10L, "e")).toDF("k", "t", "name")
    val right = Seq((1L, 10L, 1.0)).toDF("k", "rt", "v")
    val le = AsOfJoin.backward(left, right, "k", "t", "rt", Seq("v"))
    assert(le.collect().head.getAs[Double]("v") == 1.0)
    val lt = AsOfJoin.backward(left, right, "k", "t", "rt", Seq("v"), strict = true)
    assert(lt.collect().head.isNullAt(lt.columns.indexOf("v")))
  }

  test("broadcast as-of agrees with the window formulation on every row") {
    import org.apache.spark.sql.functions._
    val ev = graft.engine.Tables.events(spark, GraftTest.sf)
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("value").as("click_value"))
    val views = ev.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "user_id", "click_value").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.getAs[java.lang.Double]("click_value")))).toSet
    val win = canon(AsOfJoin.backward(views, clicks, "user_id", "ts", "ts", Seq("click_value")))
    val bc = canon(AsOfJoin.backwardBroadcast(views, clicks, "user_id", "ts", "ts", Seq("click_value")))
    assert(bc == win)
    assert(bc.nonEmpty)
    // strict variant agrees too
    val winS = canon(AsOfJoin.backward(views, clicks, "user_id", "ts", "ts",
      Seq("click_value"), strict = true))
    val bcS = canon(AsOfJoin.backwardBroadcast(views, clicks, "user_id", "ts", "ts",
      Seq("click_value"), strict = true))
    assert(bcS == winS)
  }

  test("as-of broadcast path refuses fractional keys; auto routes them to the window plan") {
    import spark.implicits._
    // keys 1.2 and 1.9 must stay distinct — a cast-to-long build map would
    // collapse them to key 1 and match probe 1.5 against both
    val left = Seq((1.2, 10L, "a"), (1.9, 10L, "b")).toDF("k", "t", "name")
    val right = Seq((1.2, 5L, 100.0), (1.9, 5L, 200.0)).toDF("k", "rt", "v")
    intercept[IllegalArgumentException] {
      AsOfJoin.backwardBroadcast(left, right, "k", "t", "rt", Seq("v"))
    }
    val out = AsOfJoin.backwardAuto(left, right, "k", "t", "rt", Seq("v"))
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Double]("v")).toMap
    assert(out == Map("a" -> 100.0, "b" -> 200.0))
  }

  test("as-of broadcast handles NULL keys on both sides") {
    import spark.implicits._
    val left = Seq[(java.lang.Long, java.lang.Long, String)](
      (0L, 10L, "k0"), (null, 10L, "knull"))
      .toDF("k", "t", "name")
    val right = Seq[(java.lang.Long, java.lang.Long, java.lang.Double)](
      (0L, 5L, 100.0), (null, 1L, 999.0)) // null build key must NOT merge into key 0
      .toDF("k", "rt", "v")
    val out = AsOfJoin.backwardBroadcast(left, right, "k", "t", "rt", Seq("v"))
      .collect().map(r => r.getAs[String]("name") ->
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)).toMap
    assert(out("k0") == Some(100.0))   // matched its own key only
    assert(out("knull") == None)       // null probe key → no match, no NPE
    // window plan agrees
    val win = AsOfJoin.backward(left, right, "k", "t", "rt", Seq("v"))
      .collect().map(r => r.getAs[String]("name") ->
        Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)).toMap
    assert(win == out)
  }

  test("as-of window plan is row-atomic: NULL right values are not back-filled") {
    import spark.implicits._
    val left = Seq((1L, 30L, "probe")).toDF("k", "t", "name")
    // the matched row (rt=20) has v = NULL; an older row (rt=10) has v = 7.
    // The reference returns the matched row verbatim → v must be NULL.
    val right = Seq[(java.lang.Long, java.lang.Long, java.lang.Double, java.lang.Double)](
      (1L, 10L, 7.0, 1.0), (1L, 20L, null, 2.0))
      .toDF("k", "rt", "v", "w")
    val win = AsOfJoin.backward(left, right, "k", "t", "rt", Seq("v", "w")).collect().head
    assert(win.isNullAt(win.fieldIndex("v")))
    assert(win.getAs[Double]("w") == 2.0)
    val bc = AsOfJoin.backwardBroadcast(left, right, "k", "t", "rt", Seq("v", "w"))
      .collect().head
    assert(bc.isNullAt(bc.fieldIndex("v")))
    assert(bc.getAs[Double]("w") == 2.0)
  }

  test("positional join aligns by row order and pads with nulls") {
    import spark.implicits._
    val a = Seq("x", "y", "z").toDF("a")
    val b = Seq(1, 2).toDF("b")
    val rows = PositionalJoin(a.orderBy("a"), b.orderBy("b")).collect()
    assert(rows.length == 3)
    assert(rows(0).getString(0) == "x" && rows(0).getInt(1) == 1)
    assert(rows(2).getString(0) == "z" && rows(2).isNullAt(1))
  }

  test("chunked window matches the single-task global window exactly") {
    import spark.implicits._
    val df = (1 to 97).map(i => (i.toLong, (i * 37 % 19).toDouble)).toDF("k", "v")
    val expected = {
      val w = org.apache.spark.sql.expressions.Window.orderBy("k").rowsBetween(-3, 2)
      df.select(col("k"), sum("v").over(w).as("s")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val actual = graft.operators.ChunkedWindow
      .boundedFrame(df, "k", 3, 2, chunks = 8) { w =>
        Seq(sum("v").over(w).as("s"))
      }
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("s")).toMap
    assert(actual == expected)
  }

  test("chunked window stays exact when chunks are smaller than the frame") {
    import spark.implicits._
    // 97 rows over 50 requested chunks → ~2 rows per range chunk, less
    // than before=3: undersized chunks must merge before ghost donation
    // or boundary frames silently lose terms
    val df = (1 to 97).map(i => (i.toLong, (i * 13 % 7).toDouble)).toDF("k", "v")
    val expected = {
      val w = org.apache.spark.sql.expressions.Window.orderBy("k").rowsBetween(-3, 2)
      df.select(col("k"), sum("v").over(w).as("s")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val actual = graft.operators.ChunkedWindow
      .boundedFrame(df, "k", 3, 2, chunks = 50) { w =>
        Seq(sum("v").over(w).as("s"))
      }
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("s")).toMap
    assert(actual == expected)
  }

  test("recursive CTE union fixpoint: transitive closure") {
    import spark.implicits._
    // edges of a small DAG: 1→2→3→4, 2→5
    val edges = Seq((1, 2), (2, 3), (3, 4), (2, 5)).toDF("src", "dst")
    val base = edges.select(col("src"), col("dst"))
    val closure = RecursiveCTE.unionFixpoint(base, frontier =>
      frontier.as("f").join(edges.as("e"), col("f.dst") === col("e.src"))
        .select(col("f.src"), col("e.dst")))
    val pairs = closure.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs == Set((1, 2), (2, 3), (3, 4), (2, 5),
      (1, 3), (2, 4), (1, 4), (1, 5), (2, 5), (1, 5)))
  }

  test("recursive CTE cyclic fixpoint at the iteration cap is not an error") {
    import spark.implicits._
    // 1→2→1 cycle: closure {12,21,11,22} is complete after ONE productive
    // round; with maxIterations=1 the loop exits before observing an empty
    // fresh set, and the boundary must recognize step(frontier) ⊆ acc as
    // convergence rather than raising.
    val edges = Seq((1, 2), (2, 1)).toDF("src", "dst")
    val closure = RecursiveCTE.unionFixpoint(edges, frontier =>
      frontier.as("f").join(edges.as("e"), col("f.dst") === col("e.src"))
        .select(col("f.src"), col("e.dst")),
      maxIterations = 1, batchSize = 1)
    val pairs = closure.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs == Set((1, 2), (2, 1), (1, 1), (2, 2)))
  }

  test("recursive CTE compiled driver-local path: deep series") {
    import spark.implicits._
    val out = RecursiveCTE.unionAllFixpoint(Seq(1L).toDF("n"),
      f => f.filter(col("n") < 500).select((col("n") + 1).as("n")))
    val ns = out.collect().map(_.getLong(0)).sorted
    assert(ns.length == 500 && ns.head == 1L && ns.last == 500L)
    assert(ns.sum == 500L * 501 / 2)
  }

  test("recursive CTE non-convergence raises") {
    import spark.implicits._
    intercept[IllegalStateException] {
      RecursiveCTE.unionAllFixpoint(Seq(1L).toDF("n"),
        f => f.select((col("n") + 1).as("n")), maxIterations = 10).collect()
    }
  }

  test("keyed fixpoint (USING KEY): shortest path over a cyclic graph") {
    import spark.implicits._
    val edges = Seq((1, 2, 1), (2, 3, 1), (3, 1, 1), (1, 3, 5), (3, 4, 2), (4, 5, 1), (2, 5, 7))
      .toDF("src", "dst", "w")
    val base = Seq((1, 0)).toDF("node", "dist")
    val out = RecursiveCTE.keyedFixpoint(base, (frontier, state) => {
      val cand = frontier.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
      cand.join(state.select(col("node").as("sn"), col("dist").as("sd")),
          col("node") === col("sn"), "left")
        .filter(col("sd").isNull || col("dist") < col("sd"))
        .select("node", "dist")
    }, Seq("node"))
    val dists = out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(dists == Map(1 -> 0, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 5))
  }

  test("recursive CTE union-all fixpoint: series generation") {
    import spark.implicits._
    val out = RecursiveCTE.unionAllFixpoint(Seq(1L).toDF("n"),
      f => f.filter(col("n") < 10).select((col("n") + 1).as("n")))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (1L to 10L))
  }

  test("unbounded carry matches the single-task global window exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // ~35% nulls, incl. all-null leading/trailing stretches
    val rows = (1 to 500).map { i =>
      val v = if (i < 8 || i > 493 || rnd.nextDouble() < 0.35) None
              else Some(rnd.nextInt(1000).toDouble)
      (i.toLong, v)
    }
    val df = rows.toDF("k", "v")
    val wAll = org.apache.spark.sql.expressions.Window.orderBy("k")
    val expected = df
      .withColumn("b", last(col("v"), ignoreNulls = true)
        .over(wAll.rowsBetween(Long.MinValue, 0)))
      .withColumn("f", first(col("v"), ignoreNulls = true)
        .over(wAll.rowsBetween(0, Long.MaxValue)))
      .select("k", "b", "f").collect()
      .map(r => (r.getLong(0),
        Option(r.getAs[java.lang.Double]("b")),
        Option(r.getAs[java.lang.Double]("f")))).toSet
    for (chunks <- Seq(1, 3, 16, 700)) {
      val got = graft.operators.ChunkedWindow
        .unboundedCarry(df, "k", col("v"), "b", "f", chunks = chunks)
        .select("k", "b", "f").collect()
        .map(r => (r.getLong(0),
          Option(r.getAs[java.lang.Double]("b")),
          Option(r.getAs[java.lang.Double]("f")))).toSet
      assert(got == expected, s"chunks=$chunks")
    }
  }

  test("chunked carries plan and run whatever expression id the order column has") {
    import org.apache.spark.sql.expressions.Window
    // Catalyst canonicalizes a lambda's variables to small expression ids,
    // and constraint inference checks references on that canonical form: a
    // chunk id written as a higher-order function over an order column
    // whose own id was one of them lost the column from its references, and
    // the inferred chunk predicate landed on the carry side, which has no
    // such column (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in a task)
    val rows = (1 to 60).map(i => Seq(i.toLong, (i % 3).toLong, (i * 7 % 11).toLong))
    def longs(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect()
        .map(r => cols.indices.map(i => Option(r.get(i)))).toSet
    for (id <- 0L to 8L) {
      // the repartition keeps the optimizer from folding the chunk id into
      // the local rows
      val df = org.apache.spark.sql.graft.PinnedIds
        .longs(spark, id, Seq("k", "g", "v"), rows).repartition(2)
      val before = Window.partitionBy("g").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
      val summed = graft.operators.ChunkedWindow
        .keyedRunningSum(df, Seq("g"), "k", col("v"), "s", chunks = 4)
      assert(longs(summed, "k", "s") == longs(
        df.withColumn("s", coalesce(sum("v").over(before), lit(0L))), "k", "s"), s"id $id")
      val w = Window.orderBy("k")
      val carried = graft.operators.ChunkedWindow
        .unboundedCarry(df, "k", when(col("v") > 5, col("v")), "b", "f", chunks = 4)
      val expected = df
        .withColumn("b", last(when(col("v") > 5, col("v")), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("f", first(when(col("v") > 5, col("v")), ignoreNulls = true)
          .over(w.rowsBetween(0, Window.unboundedFollowing)))
      assert(longs(carried, "k", "b", "f") == longs(expected, "k", "b", "f"), s"id $id")
    }
  }

  test("unbounded carry keeps struct payloads row-atomic") {
    import spark.implicits._
    // two value columns that are null on DIFFERENT rows: carrying them as
    // one struct must NOT mix values from different source rows
    val df = Seq(
      (1L, Some(10.0), Some("a")), (2L, None, Some("b")), (3L, Some(30.0), None),
      (4L, None, None), (5L, Some(50.0), Some("e"))
    ).toDF("k", "x", "s")
    val out = graft.operators.ChunkedWindow.unboundedCarry(
        df, "k",
        when(col("x").isNotNull, struct(col("k"), col("x"), col("s"))),
        "b", "f", chunks = 2)
      .select(col("k"), col("b.k").as("bk"), col("b.s").as("bs")).collect()
      .map(r => r.getLong(0) -> ((Option(r.getAs[java.lang.Long]("bk")).map(_.toLong),
        Option(r.getAs[String]("bs"))))).toMap
    assert(out(2L) == ((Some(1L), Some("a")))) // row 1's pair, not row 2's "b"
    assert(out(4L) == ((Some(3L), None)))      // row 3 had s = null — kept atomically
    assert(out(5L) == ((Some(5L), Some("e"))))
  }

  test("banded range join is row-identical to the nested-loop join") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val left = (1 to 400).map(i => (i.toLong, rnd.nextInt(100).toDouble, rnd.nextInt(5)))
      .toDF("lid", "lv", "lg")
    val right = (1 to 300).map(i => (i.toLong, rnd.nextInt(100).toDouble, rnd.nextInt(5)))
      .toDF("rid", "rv", "rg")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nlj = canon(left.join(broadcast(right),
      col("lv") < col("rv") && col("lg") =!= col("rg")))
    // several band counts, incl. degenerate 1-band and more-bands-than-values
    for (b <- Seq(1, 4, 32, 500)) {
      val banded = canon(graft.operators.RangeJoin.bandedLess(
        left, "lv", right, "rv",
        residual = Some(col("lg") =!= col("rg")), bands = b))
      assert(banded == nlj, s"bands=$b")
      assert(nlj.nonEmpty)
    }
    // non-strict variant picks up the equal-value pairs
    val le = canon(graft.operators.RangeJoin.bandedLess(
      left, "lv", right, "rv", strict = false))
    val leNlj = canon(left.join(broadcast(right), col("lv") <= col("rv")))
    assert(le == leNlj)
  }

  test("banded range join: inequality nulls never match") {
    import spark.implicits._
    val left = Seq((1L, Some(5.0)), (2L, None)).toDF("lid", "lv")
    val right = Seq((10L, Some(9.0)), (11L, None)).toDF("rid", "rv")
    val out = graft.operators.RangeJoin.bandedLess(left, "lv", right, "rv")
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 10L)))
  }

  test("banded range join shuffles both sides — no broadcast nested loop") {
    import spark.implicits._
    spark.sql("SET spark.sql.autoBroadcastJoinThreshold=-1")
    try {
      val left = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("lid", "lv")
      val right = (1 to 50).map(i => (i.toLong, i.toDouble)).toDF("rid", "rv")
      val plan = graft.operators.RangeJoin.bandedLess(left, "lv", right, "rv")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      // forced piecewise-merge sweep: one band shuffle, in-partition sort,
      // then the prefix-buffer enumeration — never a per-pair join
      val sw = graft.operators.RangeJoin
        .bandedLess(left, "lv", right, "rv", sweep = Some(true))
        .queryExecution.executedPlan.toString
      assert(sw.contains("hashpartitioning(__b"), sw)
      assert(sw.contains("MapPartitions"), sw)
      // auto mode takes the sweep when the cut points collapse (duplicate-
      // heavy band column = the quadratic NLJ case)
      val const = (1 to 50).map(i => (i.toLong, 1.0)).toDF("rid", "rv")
      val auto = graft.operators.RangeJoin.bandedLess(left, "lv", const, "rv")
        .queryExecution.executedPlan.toString
      assert(auto.contains("MapPartitions"),
        s"collapsed cuts must dispatch the sweep:\n$auto")
    } finally spark.sql("SET spark.sql.autoBroadcastJoinThreshold=10485760")
  }

  test("banded sweep matches the NLJ-within-band path row-for-row") {
    import spark.implicits._
    // mixed-magnitude doubles + duplicate values exercise the tie path
    // (left-before-right at equal doubles, exact re-check after)
    val left = (1 to 200).map(i => (i.toLong, (i % 17).toDouble)).toDF("lid", "lv")
    val right = (1 to 150).map(i => (i.toLong, (i % 13).toDouble)).toDF("rid", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (strict <- Seq(true, false)) {
      val sweep = canon(graft.operators.RangeJoin.bandedLess(
        left, "lv", right, "rv", strict = strict, sweep = Some(true)))
      val nlj = canon(graft.operators.RangeJoin.bandedLess(
        left, "lv", right, "rv", strict = strict, sweep = Some(false)))
      assert(sweep == nlj, s"strict=$strict: sweep diverges from NLJ")
    }
    // residual predicate still applies per pair
    val res = canon(graft.operators.RangeJoin.bandedLess(
      left, "lv", right, "rv", residual = Some($"lid" % 2 === 0), sweep = Some(true)))
    val resN = canon(graft.operators.RangeJoin.bandedLess(
      left, "lv", right, "rv", residual = Some($"lid" % 2 === 0), sweep = Some(false)))
    assert(res == resN)
  }

  test("dup clusters: 64-deep chain converges in O(log n) star rounds") {
    import spark.implicits._
    // adversarial boilerplate ladder: a pure 64-node path. Min-label
    // propagation needs 63 rounds here; large-star/small-star contracts
    // geometrically, so it must land the whole chain on label 1 in <= 8.
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = graft.pipeline.Dedup.dupClustersWithRounds(chain)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == 64 && got.values.forall(_ == 1L),
      s"chain did not collapse to one component: $got")
    assert(rounds <= 8, s"star rounds not logarithmic: $rounds")
    // and a multi-component graph keeps components separate
    val two = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val (l2, _) = graft.pipeline.Dedup.dupClustersWithRounds(two)
    val m2 = l2.as[(Long, Long)].collect().toMap
    assert(m2 == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("banding cuts come from parquet footer stats for scans, no data pass") {
    val li = graft.engine.Tables.lineitem(spark, GraftTest.sf)
    val cuts = graft.operators.Banding.cuts(li, "l_quantity", 13, 0.01)
    assert(graft.operators.Banding.lastSource == "stats",
      s"expected footer-stats cuts, got '${graft.operators.Banding.lastSource}'")
    assert(cuts.nonEmpty && cuts.length <= 12)
    assert(cuts.sameElements(cuts.sorted))
    // quantities are 1..50; stats-derived cuts must stay in range and
    // split it into multiple usable bands
    assert(cuts.head >= 1.0 && cuts.last <= 50.0 && cuts.distinct.length > 3)
    // a non-scan plan (aggregate) falls back to the quantile pass
    val agg = li.groupBy("l_orderkey")
      .agg(org.apache.spark.sql.functions.sum("l_quantity").as("q"))
    val c2 = graft.operators.Banding.cuts(agg, "q", 13, 0.01)
    assert(graft.operators.Banding.lastSource == "scan" && c2.nonEmpty)
  }

  test("running quantile matches the brute-force frame-collect form; multi-task") {
    import spark.implicits._
    val n = 4000
    val df = spark.range(n).select(
      (col("id") % 5).as("k"), col("id").as("o"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise((col("id") * 53 % 97).cast("double")).as("v"))
    val got = graft.operators.RunningQuantile
      .runningQuantile(df, Seq("k"), Seq("o"), "v", 0.3, "qv")
    // brute force: collect+sort the prefix, interpolate at q*(n-1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("o")
      .rowsBetween(Long.MinValue, org.apache.spark.sql.expressions.Window.currentRow)
    val arr = sort_array(expr("filter(collect_list(v) over (partition by k order by o rows between unbounded preceding and current row), x -> x is not null)"))
    val sz = size(arr)
    val pos = (sz - 1).cast("double") * lit(0.3)
    val lo = floor(pos).cast("int")
    val hi = ceil(pos).cast("int")
    val vLo = element_at(arr, lo + 1)
    val vHi = element_at(arr, hi + 1)
    val exp = df.select(col("k"), col("o"),
      when(sz === 0, lit(null))
        .otherwise(vLo + (vHi - vLo) * (pos - lo.cast("double"))).as("qv"))
    val g = got.select("k", "o", "qv").as[(Long, Long, Option[Double])]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val e = exp.as[(Long, Long, Option[Double])]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(g.size == n)
    for ((k, ev) <- e) {
      val gv = g(k)
      assert((ev, gv) match {
        case (Some(a), Some(b)) => math.abs(a - b) < 1e-9
        case (a, b) => a == b
      }, s"mismatch at $k: got $gv expected $ev")
    }
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(k"),
      s"running quantile not hash-partitioned on keys:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"running quantile funnels rows through one task:\n$plan")
  }

  test("running median matches the brute-force frame-collect form; multi-task") {
    import spark.implicits._
    val n = 5000
    val df = spark.range(n).select(
      (col("id") % 7).as("k"), col("id").as("o"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise((col("id") * 37 % 101).cast("double")).as("v"))
    val got = graft.operators.RunningMedian
      .runningMedian(df, Seq("k"), Seq("o"), "v", "med")
    // brute force: collect+sort the whole prefix per row
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("o")
      .rowsBetween(Long.MinValue, org.apache.spark.sql.expressions.Window.currentRow)
    val arr = sort_array(collect_list(col("v")).over(w))
    val sz = size(arr)
    val exp = df.select(col("k"), col("o"),
      when(sz === 0, lit(null)).otherwise(
        when(sz % 2 === 1, element_at(arr, ((sz + lit(1)) / 2).cast("int")))
          .otherwise((element_at(arr, (sz / 2).cast("int")) +
            element_at(arr, (sz / 2).cast("int") + 1)) / 2)).as("med"))
    val g = got.select("k", "o", "med").as[(Long, Long, Option[Double])]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    val e = exp.as[(Long, Long, Option[Double])]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(g.size == n && g == e)
    // the operator must hash-partition on the keys, never funnel to a
    // single task (AQE may coalesce the 5k-row toy shuffle, so assert
    // the plan shape — same pattern as the pack-sequences guard)
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(k"),
      s"running median not hash-partitioned on keys:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"running median funnels rows through one task:\n$p")
  }

  test("TABLESAMPLE REPEATABLE: Spark's real sampling operator — seeded, ~rate") {
    import spark.implicits._
    (1 to 20000).toDF("k").createOrReplaceTempView("sample_src")
    def run(): Long =
      spark.sql("SELECT k FROM sample_src TABLESAMPLE (10 PERCENT) REPEATABLE (42)")
        .count()
    val n1 = run(); val n2 = run()
    assert(n1 == n2, s"REPEATABLE seed not stable: $n1 vs $n2") // seeded RNG
    // Bernoulli at p=0.1 over 20k rows: mean 2000, sd ~42 — ±10 sd bound
    assert(n1 > 1500 && n1 < 2500, s"sample rate off: $n1 of 20000")
  }
}
