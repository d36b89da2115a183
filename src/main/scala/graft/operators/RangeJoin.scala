package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Band-partitioned inequality join — the distributed path for joins whose
  * only useful predicate is an inequality. The reference plans
  * PhysicalPiecewiseMergeJoin for one inequality and PhysicalIEJoin for two
  * (plan_comparison_join.cpp:104-210, physical_iejoin.cpp) precisely
  * because nested-loop dies when neither side fits in memory. Spark's
  * native answer is BroadcastNestedLoopJoin — correct, but it requires one
  * side to broadcast; at 100 TB neither side does.
  *
  * This operator restores a shuffled, band-parallel plan:
  *
  *  1. one bounded-memory quantile pass (Greenwald–Khanna via
  *     approxQuantile) over the right side derives B equi-depth value
  *     bands of the first inequality column — equi-depth keeps bands
  *     balanced under value skew;
  *  2. each left row hashes to its own band; each right row replicates
  *     DOWN to the bands it can possibly match. Band assignment is
  *     monotone in the value, so `l < r` implies `band(l) <= band(r)` and
  *     replicating the right row to bands `0..band(r)` covers every
  *     match exactly once (the pair meets in band(l)). Replicating the
  *     build side keeps the probe pipeline free of a Generate node, so
  *     filter→band-project→join→partial-agg fuse into ONE whole-stage
  *     codegen span (verified in the executed plan);
  *  3. both sides shuffle ONCE on the band id and join within bands,
  *     B-way parallel with no broadcast and no single-task funnel. Two
  *     in-band strategies, auto-dispatched:
  *
  *     - NLJ-in-band (default when bands are healthy): an ordinary
  *       equi-join on the band id with the inequality as the join
  *       condition — whole-stage-codegen'd pair evaluation. When the
  *       result is a sizable fraction of the in-band candidates (the
  *       common case for `l < r` over overlapping distributions), output
  *       materialization dominates and codegen beats everything else
  *       (measured 2-3× over the sweep at sf0.1).
  *     - Sorted SWEEP (the reference's piecewise-merge shape,
  *       physical_piecewise_merge_join.cpp): both sides sort together on
  *       the inequality value inside each band; left rows accumulate into
  *       a prefix buffer and each right row emits exactly the buffered
  *       prefix — O(sort + output) instead of O(|L_band| × |R_band|)
  *       predicate evaluations. This wins precisely when candidates >>
  *       output, i.e. when equi-depth banding DEGENERATES: a
  *       duplicate-heavy band column collapses the cut points and one
  *       band swallows both sides (measured 1.6× at 600k×40k collapsed
  *       rows — and the gap grows quadratically with scale). Cut collapse
  *       is known for free from the quantile pass, so auto mode picks the
  *       sweep exactly then.
  *
  * Cost: the right side carries ~B/2 replicas per row (bounded, chosen by
  * `bands`); join work is O(output) like the reference's IEJoin result
  * enumeration — measured at sf0.1 the banded NLJ evaluates ~7.7M in-band
  * candidates for 7.25M output pairs (6% waste), so an in-band IEJoin
  * sweep has no remaining headroom; the residual gap to the reference is
  * Spark's multi-stage scheduling floor. The boundary array (≤ B doubles) ships as plan literals.
  * The sweep orders by the DOUBLE cast of the value — a monotone
  * non-strict map — with ties enumerated conservatively (left before
  * right) and the exact typed inequality re-checked on every emitted
  * pair, so double rounding can cost a few tie candidates, never
  * correctness.
  *
  * Nulls in an inequality column never match (SQL three-valued logic), so
  * both sides drop them before banding.
  */
object RangeJoin {

  /** Inner-join `left` × `right` on `left(leftCol) < right(rightCol)`
    * (`<=` when `strict = false`) AND `residual`, without broadcasting
    * either side. Column names must be disjoint across the two inputs
    * (alias before calling, as for any self-join); both band columns must
    * be numeric.
    */
  def bandedLess(
      left: DataFrame,
      leftCol: String,
      right: DataFrame,
      rightCol: String,
      residual: Option[Column] = None,
      bands: Int = 32,
      strict: Boolean = true,
      sweep: Option[Boolean] = None): DataFrame = {
    val l = left.where(col(leftCol).isNotNull)
    val r = right.where(col(rightCol).isNotNull)

    // Equi-depth cut points from the right side. Duplicate quantiles (heavy
    // hitters) collapse; the band count degrades gracefully to the number
    // of distinct cuts + 1. Double-cast banding is only a PARTITIONING
    // decision — the exact typed inequality is still evaluated on every
    // candidate pair — so double rounding cannot change results, only
    // which band evaluates them. Monotonicity of the cast keeps coverage:
    // l < r (exact) implies band(l) <= band(r) (non-strict, double).
    val cuts = Banding.cuts(r, rightCol, bands, 0.01)
    val nBands = cuts.length + 1

    // band(v) = number of cuts <= v, as a flat when-sum over the literal
    // boundaries. NOT the `aggregate` higher-order fold: HOFs are
    // CodegenFallback expressions, and one in the band key disabled
    // whole-stage codegen for the ENTIRE join+aggregate pipeline above
    // it (measured: the interpreted path dominated q_join_range).
    def bandOf(c: Column): Column =
      if (cuts.isEmpty) lit(0)
      else cuts.map(cut =>
        when(c.cast("double") >= cut, 1).otherwise(0)).reduce(_ + _)

    // auto: the quantile pass already revealed whether banding held up —
    // heavy duplicates collapse cut points, one band swallows both sides,
    // and in-band NLJ goes quadratic. Sweep exactly then.
    val useSweep = sweep.getOrElse(nBands < math.max(2, bands / 2))

    // Probe-side parallelism (r15, guide §2.6): the NLJ-in-band probe
    // pipeline (band project → in-band join → residual → partial agg) is
    // COMPUTE-bound — ~|L| × |R|/B candidate evaluations — and it runs
    // entirely in the probe side's scan tasks. The fixtures arrive in ONE
    // partition (single-row-group parquet / single-partition dim cache),
    // so before this change every candidate was evaluated by one task
    // (measured at sf0.1: the whole 7.7M-candidate probe single-threaded).
    // One tiny round-robin shuffle of the probe rows buys fanout-way
    // parallel evaluation. Gate = partition count, which is the honest
    // scale signal: a cluster-scale probe side is already partitioned
    // wider than the fanout and never pays the extra exchange. The sweep
    // path repartitions by band anyway and needs no scatter.
    // Compute-bound stage → the fanout is at least the core count, not
    // only the data-sized shuffle partition count: the per-candidate
    // evaluation, not the row bytes, is what needs spreading.
    val fanout = math.max(
      left.sparkSession.sessionState.conf.numShufflePartitions,
      left.sparkSession.sparkContext.defaultParallelism)
    val lp =
      if (!useSweep && l.rdd.getNumPartitions < fanout)
        l.repartition(fanout)
      else l

    // Replication direction: the RIGHT side replicates DOWN to bands
    // 0..band(r) (a right row matches left rows in every band ≤ its
    // own); the LEFT side keeps exactly its own band. Each qualifying
    // pair meets in band(l) exactly once. Replicating the build side
    // keeps the streamed/probe side free of a Generate node — GenerateExec
    // does not participate in whole-stage codegen, and a Generate in the
    // probe pipeline forced the whole join+aggregate chain onto the
    // interpreted path (the dominant cost of q_join_range before r12).
    // The left band key is wrapped in OpaqueBarrier (a codegen'd
    // identity flagged nondeterministic): with constraint propagation
    // on, Catalyst substitutes a Project-aliased join key with its
    // defining expression and infers a filter referencing the other
    // side's attributes — an unresolvable plan that fails at runtime
    // with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. Nondeterministic outputs
    // are not alias-substitutable, which blocks the bad inference
    // without the codegen-breaking one-element explode used before.
    val lb = lp.withColumn(
      "__graft_band",
      org.apache.spark.sql.graft.OpaqueBarrier(bandOf(col(leftCol))))
    val rb = r.withColumn(
      "__graft_band",
      explode(sequence(lit(0), bandOf(col(rightCol)))))

    val ineq =
      if (strict) col(leftCol) < col(rightCol)
      else col(leftCol) <= col(rightCol)
    val cond = residual.map(ineq && _).getOrElse(ineq)

    if (!useSweep)
      lb.join(rb, Seq("__graft_band")).where(cond).drop("__graft_band")
    else {
      // piecewise-merge sweep: tag the two sides, co-shuffle on the band,
      // sort (band, value, tag) — tag 0 (left) first so equal-double ties
      // land in the prefix buffer conservatively — and enumerate each
      // right row against the accumulated left prefix. Buffer memory is
      // one band's left rows (the hash-join build side's bound); emission
      // is iterator-lazy, so the O(output) pairs stream without
      // materializing.
      val lSchema = StructType(l.schema.fields.map(_.copy(nullable = true)))
      val rSchema = StructType(r.schema.fields.map(_.copy(nullable = true)))
      val lt = lb.select(
        col("__graft_band").as("__b"),
        col(leftCol).cast("double").as("__v"), lit(0).as("__t"),
        struct(l.columns.map(col).toSeq: _*).as("__lp"),
        lit(null).cast(rSchema).as("__rp"))
      val rt = rb.select(
        col("__graft_band").as("__b"),
        col(rightCol).cast("double").as("__v"), lit(1).as("__t"),
        lit(null).cast(lSchema).as("__lp"),
        struct(r.columns.map(col).toSeq: _*).as("__rp"))
      val ordered = lt.unionByName(rt)
        .repartition(col("__b"))
        .sortWithinPartitions(col("__b"), col("__v"), col("__t"))
      val outSchema = StructType(lSchema.fields ++ rSchema.fields)
      val pairs = ordered.mapPartitions { it =>
        var curBand = Int.MinValue
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        it.flatMap { row =>
          val b = row.getInt(0)
          if (b != curBand) { curBand = b; buf.clear() }
          if (row.getInt(2) == 0) {
            buf += row.getStruct(3)
            Iterator.empty
          } else {
            val rv = row.getStruct(4).toSeq
            buf.iterator.map(lp => Row.fromSeq(lp.toSeq ++ rv))
          }
        }
      }(Encoders.row(outSchema))
      pairs.where(cond)
    }
  }

  /** Stats-dispatched inequality join: when either side's estimated size
    * fits the broadcast threshold, the plain theta join wins (Spark plans
    * BroadcastNestedLoopJoin — measured ~1.5× faster than banding at
    * broadcastable scale, since banding pays a quantile pass plus ~B/2
    * left-row replication); past the threshold neither side may
    * broadcast and the banded shuffle plan is the only one that scales.
    * Same dispatch shape as AsOfJoin.backwardAuto.
    */
  def autoLess(
      left: DataFrame,
      leftCol: String,
      right: DataFrame,
      rightCol: String,
      residual: Option[Column] = None,
      bands: Int = 32,
      strict: Boolean = true): DataFrame = {
    val thr = left.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    def fits(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= thr
    if (thr > 0 && (fits(right) || fits(left))) {
      val ineq =
        if (strict) col(leftCol) < col(rightCol)
        else col(leftCol) <= col(rightCol)
      left.join(right, residual.map(ineq && _).getOrElse(ineq))
    } else bandedLess(left, leftCol, right, rightCol, residual, bands, strict)
  }
}
