package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Terminal-ORDER-BY single-partition rewrite.
  *
  * A global `Sort` plans as RangePartitioning, and the range partitioner
  * SAMPLES its child to pick bounds — a separate job that re-executes
  * everything after the last exchange, then the real shuffle runs the same
  * subtree again. For the common analytics shape `aggregate → ORDER BY`
  * the final result is a handful of rows, so the sampling pass, the range
  * exchange and the N post-shuffle sort tasks are pure fixed overhead
  * (2 jobs + child recomputed twice to order rows that fit in one task).
  *
  * Gate, two independent bounds that must BOTH pass:
  *
  *  1. BYTE bound (input side): the optimizer's size estimate for the sort
  *     input, OR the sum of the plan's leaf-relation estimates, is at most
  *     `spark.graft.smallsort.maxBytes` (default 128 MB — one guide-sized
  *     reduce partition). Two sub-bounds because the size-only stats model
  *     fails in opposite directions: aggregates inherit their child's size
  *     (a 4-row GROUP BY over a 50 MB table "weighs" 50 MB), and join
  *     outputs multiply (a broadcast dim join "weighs" petabytes). The
  *     leaf sum is the honest scale signal — a query that READS under
  *     128 MB has a floor-dominated terminal sort; one that reads
  *     terabytes keeps the parallel range sort no matter what the
  *     estimate says.
  *
  *  2. ROW bound (output side, round-15): a PROVABLE upper bound on the
  *     sort input's row count, when one exists, must be at most
  *     `spark.graft.smallsort.maxRows` (default 65536). The r14 driver
  *     run showed the byte gate alone admits large-RESULT sorts —
  *     q_h2o_g10's all-keys grouping funnels ~98k rows through one sort
  *     task and loses real parallel sort time (0.190 → 0.343 s). The
  *     bound is structural, not a guess: exact row counts from
  *     materialized in-memory relations propagated through
  *     cardinality-PRESERVING operators (Project/Window/Sort/
  *     Repartition), `maxRows` where Catalyst defines one (limits), and
  *     for grouped aggregates the product of per-key NDV UPPER bounds
  *     derived from the key expressions themselves (`x % 10` has at most
  *     19 distinct values whatever x is; concat/arith multiply). A
  *     FILTER yields "unknown" — selectivity is not knowable here, and a
  *     wrongly-blocked small sort costs more than a wrongly-admitted one
  *     (the pushed-filter scan shapes are the rewrite's best wins).
  *     Unknown bounds fall back to the byte gate (the r14 behavior).
  *
  * Explosion guard (round-15, latent-case hardening): when ONLY the
  * leaf-sum byte bound passed and no row bound is known, a Generate or a
  * condition-free/cross join on the sort's cardinality-preserving spine
  * means the query can READ small but EXPLODE big before the terminal
  * sort — skip, keep the parallel range sort. Expansion BELOW an
  * aggregate is irrelevant (the aggregate re-caps the funnel size), which
  * is why the walk stops at the first non-preserving operator.
  *
  * Rewrite
  *
  *   Sort(global = true, child)  →  Sort(global = false, Repartition(1, child))
  *
  * One single-partition round-robin exchange (no partitioner sampling —
  * and Spark skips its defensive pre-repartition sort for numPartitions=1,
  * where the row→partition map is trivially deterministic under retry)
  * feeding one in-task sort. Row multiset and total order are identical;
  * only the physical route changes.
  *
  * Scale safety is the stats gate itself, not a config pinned to this box:
  * at cluster scale the estimate exceeds the threshold and the plan is
  * untouched (the same adaptivity contract as RangeJoin.autoLess /
  * tuneForScale). ORDER BY + LIMIT is deliberately left alone — the
  * rewrite only fires on the plan-root sort, never under a Limit, so
  * TakeOrderedAndProject keeps planning top-N. Commands are unwrapped at
  * the plan ROOT only (the query's own sink); a write nested anywhere
  * deeper never single-partitions.
  *
  * Registered through ExperimentalMethods (EngineSession.configure), which
  * runs in the optimizer's final user batch: after pushdown/collapse, with
  * final stats. spark.graft.smallsort.maxBytes=0 disables it per-query,
  * and spark.graft.smallsort.maxRows=0 disables the row bound alone (the
  * byte gate only).
  */
object SmallTopSort extends Rule[LogicalPlan] {

  private val MaxBytesKey = "spark.graft.smallsort.maxBytes"
  private val MaxRowsKey = "spark.graft.smallsort.maxRows"

  private def maxBytes: Long =
    try conf.getConfString(MaxBytesKey, (128L << 20).toString).toLong
    catch { case _: NumberFormatException => 0L }

  private def maxRows: Long =
    try conf.getConfString(MaxRowsKey, "65536").toLong
    catch { case _: NumberFormatException => 0L }

  /** The sort the user's query ENDS with: unwrap a root-level write/command
    * (the query's own sink — never a nested one), then walk the spine
    * through output-preserving wrappers (projections, coalesce/repartition)
    * but never through a Limit — `Limit(Sort)` belongs to
    * TakeOrderedAndProject.
    */
  private def rootSort(p: LogicalPlan): Option[Sort] = {
    val query = p match {
      case w: V2WriteCommand => w.query
      case c: Command if c.children.length == 1 => c.children.head
      case other => other
    }
    spine(query)
  }

  @scala.annotation.tailrec
  private def spine(p: LogicalPlan): Option[Sort] = p match {
    case s: Sort if s.global     => Some(s)
    case pr: Project             => spine(pr.child)
    case r: RepartitionOperation => spine(r.child)
    case _                       => None
  }

  private def satMul(a: Long, b: Long): Long =
    if (a == 0L || b == 0L) 0L
    else if (a > Long.MaxValue / b) Long.MaxValue
    else a * b

  private def satAdd(a: Long, b: Long): Long =
    if (a > Long.MaxValue - b) Long.MaxValue else a + b

  /** Positive modulus literal (the NDV bound of `x % n`). */
  private object IntegralLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v, ByteType | ShortType | IntegerType | LongType)
          if v != null =>
        val n = math.abs(v.toString.toLong)
        if (n > 0) Some(n) else None
      case _ => None
    }
  }

  /** Upper bound on an expression's distinct-value count, derivable from
    * the expression ALONE (no column statistics exist for the parquet
    * fixtures): literals are 1; `x % n` / `pmod(x, n)` are bounded by the
    * modulus whatever x is; casts preserve; concat/arithmetic multiply;
    * conditionals sum their branches. Attributes resolve through the
    * alias environment collected from the child plan's projections.
    * None = no provable bound.
    */
  private def ndvUpper(
      e: Expression,
      env: Map[ExprId, Expression],
      depth: Int): Option[Long] = {
    if (depth > 32) return None
    e match {
      case Literal(_, _) => Some(1L)
      case a: Attribute =>
        env.get(a.exprId).flatMap(ndvUpper(_, env, depth + 1))
      case al: Alias => ndvUpper(al.child, env, depth + 1)
      case c: Cast => ndvUpper(c.child, env, depth + 1)
      // x % n spans -(n-1)..(n-1): at most 2n-1 values, +1 for NULL
      case Remainder(_, IntegralLit(n), _) => Some(satAdd(satMul(2L, n), 1L))
      case Pmod(_, IntegralLit(n), _) => Some(satAdd(n, 1L))
      case b: BinaryArithmetic =>
        for {
          l <- ndvUpper(b.left, env, depth + 1)
          r <- ndvUpper(b.right, env, depth + 1)
        } yield satMul(l, r)
      case Concat(children) =>
        val bounds = children.map(ndvUpper(_, env, depth + 1))
        if (bounds.nonEmpty && bounds.forall(_.isDefined))
          Some(bounds.flatten.foldLeft(1L)(satMul))
        else None
      case If(_, t, f) =>
        for {
          a <- ndvUpper(t, env, depth + 1)
          b <- ndvUpper(f, env, depth + 1)
        } yield satAdd(a, b)
      case cw: CaseWhen =>
        val vals = cw.branches.map(_._2) ++ cw.elseValue
        val bounds = vals.map(ndvUpper(_, env, depth + 1))
        if (bounds.forall(_.isDefined))
          // implicit NULL when no else branch
          Some(satAdd(bounds.flatten.foldLeft(0L)(satAdd),
            if (cw.elseValue.isEmpty) 1L else 0L))
        else None
      case _ => None
    }
  }

  /** Alias definitions visible below a node (Project lists), so grouping
    * ATTRIBUTES trace back to the expressions that define them.
    */
  private def aliasEnv(p: LogicalPlan): Map[ExprId, Expression] = {
    val b = Map.newBuilder[ExprId, Expression]
    p.foreach {
      case pr: Project =>
        pr.projectList.foreach {
          case a: Alias => b += a.exprId -> a.child
          case _ => ()
        }
      case _ => ()
    }
    b.result()
  }

  /** Provable upper bound on a plan's output rows; None = unknown.
    * Sources: Catalyst's own `maxRows` (limits, local relations), EXACT
    * row counts from materialized in-memory (warmed) leaf relations,
    * cardinality-preserving recursion, NDV-product bounds for grouped
    * aggregates. Filter is deliberately "unknown": its selectivity is
    * not estimable here, and treating it as pass-through would block the
    * pushed-filter scan shapes that are the rewrite's best wins.
    */
  private def rowsUpper(p: LogicalPlan, depth: Int): Option[Long] = {
    if (depth > 64) return None
    p.maxRows.orElse(p match {
      case l: LeafNode =>
        // rowCount here is the materialized cache's exact count (the only
        // leaf kind that carries one without ANALYZE)
        l.stats.rowCount.collect {
          case rc if rc <= BigInt(Long.MaxValue) => rc.toLong
        }
      case a: Aggregate if a.groupingExpressions.isEmpty => Some(1L)
      case a: Aggregate =>
        // output = NDV of the grouping keys. The key-expression bound is
        // the only usable signal; the CHILD row count is deliberately NOT
        // used as a fallback — a grouped aggregate reduces cardinality by
        // an unknown factor (like Filter), and inheriting the input count
        // would block exactly the tiny-result aggregates this rewrite
        // exists for (GROUP BY l_returnflag over 600k warmed rows = 6).
        val env = aliasEnv(a.child)
        val ndvs = a.groupingExpressions.map(ndvUpper(_, env, 0))
        if (ndvs.forall(_.isDefined)) {
          val prod = ndvs.flatten.foldLeft(1L)(satMul)
          // the input still caps the output when it is known
          Some(rowsUpper(a.child, depth + 1).fold(prod)(prod min _))
        } else None
      case pr: Project => rowsUpper(pr.child, depth + 1)
      case w: Window => rowsUpper(w.child, depth + 1)
      case s: Sort => rowsUpper(s.child, depth + 1)
      case r: RepartitionOperation => rowsUpper(r.child, depth + 1)
      case sa: SubqueryAlias => rowsUpper(sa.child, depth + 1)
      case j: Join =>
        // the left×right product is EXACT only for a condition-free/cross
        // join; for keyed joins it is a wild overbound (like inheriting a
        // Filter's input count) that blocked measured winners
        // (q_join_semi's 22k-row semi output "weighed" its 150k-row left)
        if (j.joinType == Cross || j.condition.isEmpty)
          for {
            l <- rowsUpper(j.left, depth + 1)
            r <- rowsUpper(j.right, depth + 1)
          } yield satMul(l, r)
        else None
      case u: Union =>
        val cs = u.children.map(rowsUpper(_, depth + 1))
        if (cs.forall(_.isDefined)) Some(cs.flatten.foldLeft(0L)(satAdd))
        else None
      case _ => None
    })
  }

  /** Read-small/explode-big hazard on the cardinality-preserving spine
    * between the sort and the first re-capping operator: a Generate or a
    * condition-free/cross join there can blow a ≤128 MB read up into a
    * giant sort input. Equi joins are left to the row/byte gates —
    * treating every join as explosive would block the broadcast-dim
    * shapes that dominate the wins.
    */
  @scala.annotation.tailrec
  private def spineExplodes(p: LogicalPlan): Boolean = p match {
    case _: Generate => true
    case j: Join if j.joinType == Cross || j.condition.isEmpty => true
    case pr: Project => spineExplodes(pr.child)
    case f: Filter => spineExplodes(f.child)
    case w: Window => spineExplodes(w.child)
    case s: Sort => spineExplodes(s.child)
    case r: RepartitionOperation => spineExplodes(r.child)
    case sa: SubqueryAlias => spineExplodes(sa.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mb = maxBytes
    if (mb <= 0L) return plan
    rootSort(plan) match {
      case Some(s) =>
        val estimateOk = s.child.stats.sizeInBytes <= mb
        val leafOk =
          s.child.collectLeaves().map(_.stats.sizeInBytes).sum <= mb
        val rows = rowsUpper(s.child, 0)
        val mr = maxRows
        val rowOk = mr <= 0L || rows.forall(_ <= mr)
        val explodeOk = estimateOk || rows.isDefined || !spineExplodes(s.child)
        if ((estimateOk || leafOk) && rowOk && explodeOk) {
          val local = Sort(s.order, global = false,
            Repartition(1, shuffle = true, s.child))
          plan.transformDown { case node if node eq s => local }
        } else plan
      case _ => plan
    }
  }
}
