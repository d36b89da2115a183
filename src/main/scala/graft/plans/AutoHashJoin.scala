package graft.plans

import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Stats-driven shuffled-hash dispatch for equi joins (guide §3.1).
  *
  * Spark prefers sort-merge for every non-broadcast equi join: robust
  * (spills) but both sides pay a full sort. A shuffled-hash join skips
  * both sorts when one side's PER-PARTITION share fits in task memory —
  * the reference never sorts for a hash-joinable plan at all (its
  * PhysicalHashJoin builds the smaller side per thread). The r14 A/B of
  * the session-wide `spark.sql.join.preferSortMergeJoin=false` flip was
  * rejected: Spark's own dispatch under that flag keys off
  * `autoBroadcastJoinThreshold × shuffle partitions`, which this engine
  * derives DOWN at small scale (tuneForScale), and the flag leaves no
  * absolute ceiling on the build side. This rule instead re-plans the
  * dispatch the way RangeJoin.autoLess does: an explicit stats gate with
  * an absolute byte bound.
  *
  * For each hint-free equi join where the smaller side's size estimate is
  *   - ABOVE the session broadcast threshold (else the planner's
  *     broadcast pick stands — strictly better), and
  *   - AT MOST `spark.graft.shufflehash.maxBuildBytes` (default 128 MB —
  *     one guide-sized reduce partition; the whole build side bounds
  *     any single partition's hash map, so the cluster-scale failure mode
  *     — a build partition that cannot fit — cannot fire),
  * tag that side with the SHUFFLE_HASH hint. Catalyst's JoinSelection
  * honors the hint only for join types whose build side is legal, and
  * size estimates only GROW with scale (join outputs multiply), so at
  * 100 TB a fact⋈fact join blows the bound and keeps the sort-merge
  * plan. Row multiset is identical either way; every declared query
  * still terminates in its deterministic ORDER BY.
  *
  * Registered through ExperimentalMethods (EngineSession.configure), so
  * it sees final post-pushdown stats. spark.graft.shufflehash.maxBuildBytes=0
  * disables it per-query.
  */
object AutoHashJoin extends Rule[LogicalPlan] with PredicateHelper {

  private val MaxBuildKey = "spark.graft.shufflehash.maxBuildBytes"

  private def maxBuildBytes: Long =
    try conf.getConfString(MaxBuildKey, (128L << 20).toString).toLong
    catch { case _: NumberFormatException => 0L }

  /** Size estimates are only honest for join-free subtrees (scan/filter/
    * project chains priced from file or cache bytes): join outputs
    * MULTIPLY, so anything computed above a join is off by orders of
    * magnitude — a "128 MB" build that contains a join could really be
    * anything (the OOM the bound exists to prevent), and the measured
    * flips against ladder intermediates were the regressing ones (x10
    * A/B: q_job06a 0.55 → 1.43 s with a ladder-side build admitted).
    */
  private def joinFree(p: LogicalPlan): Boolean =
    !p.exists(_.isInstanceOf[Join])

  /** The join has at least one usable equi key pair (the SHJ requirement). */
  private def hasEquiKeys(j: Join, cond: Expression): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) => splitsSides(j, a, b)
      case EqualNullSafe(a, b) => splitsSides(j, a, b)
      case _ => false
    }

  private def splitsSides(j: Join, a: Expression, b: Expression): Boolean =
    (a.references.subsetOf(j.left.outputSet) &&
      b.references.subsetOf(j.right.outputSet)) ||
      (b.references.subsetOf(j.left.outputSet) &&
        a.references.subsetOf(j.right.outputSet))

  /** Sides the SHJ build may legally sit on for this join type. */
  private def legalBuilds(t: JoinType): (Boolean, Boolean) = t match {
    case Inner => (true, true)
    case LeftOuter | LeftSemi | LeftAnti => (false, true)
    case RightOuter => (true, false)
    case _ => (false, false)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mb = maxBuildBytes
    if (mb <= 0L) return plan
    val bcast = conf.autoBroadcastJoinThreshold
    plan.transform {
      case j @ Join(l, r, joinType, Some(cond), hint)
          if hint.leftHint.isEmpty && hint.rightHint.isEmpty &&
            hasEquiKeys(j, cond) =>
        val (canLeft0, canRight0) = legalBuilds(joinType)
        // both sides must price honestly: the build for the byte bound,
        // the probe so a SANE big side is what tips the scale (a ladder
        // intermediate's multiplied estimate says nothing)
        val canLeft = canLeft0 && joinFree(l) && joinFree(r)
        val canRight = canRight0 && joinFree(l) && joinFree(r)
        val ls = l.stats.sizeInBytes
        val rs = r.stats.sizeInBytes
        // a broadcastable side wins outright — and because JoinSelection
        // honors a SHUFFLE_HASH hint BEFORE its own broadcast pick, a
        // hint here would DOWNGRADE that plan (measured at sf0.1:
        // q_job09a +50% from exactly this, dim⋈fact joins whose dim sits
        // under the threshold). Never hint when either side broadcasts.
        val broadcastable = bcast > 0 &&
          (ls <= BigInt(bcast) || rs <= BigInt(bcast))
        def qualifies(s: BigInt): Boolean =
          s > BigInt(bcast).max(0) && s <= BigInt(mb)
        val shj = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))
        // prefer the smaller legal side as the build
        if (broadcastable) j
        else if (canRight && qualifies(rs) && (!canLeft || rs <= ls ||
            !qualifies(ls)))
          j.copy(hint = hint.copy(rightHint = shj))
        else if (canLeft && qualifies(ls))
          j.copy(hint = hint.copy(leftHint = shj))
        else j
    }
  }
}
