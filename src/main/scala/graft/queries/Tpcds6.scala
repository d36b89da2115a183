package graft.queries

import Q._

/** TPC-DS sample pack, batch 6
  * (`/root/reference/extension/tpcds/dsdgen/queries/{01,35,41,44}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q1:  entities whose measure exceeds 1.2× their group's average —
  *         the correlated-aggregate-ratio gate (decorrelates to an
  *         aggregate self-join; the gate cross-multiplies, no division).
  *  - q44: best-k and worst-k ranked lists of the same aggregate, paired
  *         by rank — two windows over one aggregate, rank-equality
  *         self-join.
  *  - q41: deep DNF over dimension attributes feeding COUNT(DISTINCT) —
  *         predicate-simplification stress, single dim scan.
  *  - q35: EXISTS-gated customer set with per-group order statistics —
  *         semi join before aggregation, never materializing the
  *         subquery side.
  *
  * Scale shapes: every window/self-join runs over a per-part or per-
  * customer AGGREGATE (bounded by dimension cardinality, not fact rows);
  * the semi join keeps the orders side un-materialized; all money math
  * is exact BIGINT mantissas (fx) with DECIMAL(38,0) cross-multiplied
  * gates.
  */
object Tpcds6 extends Pack {

  // ---- DS Q1: returns above 1.2× the nation average ----------------------
  q("q_ds1_return_ratio",
    s"""WITH ctr AS (
       |  SELECT c_custkey AS ck, c_nationkey AS nk,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS ret
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE l_returnflag = 'R'
       |  GROUP BY 1, 2),
       |st AS (SELECT nk, sum(ret) AS tot, count(*) AS cnt FROM ctr GROUP BY nk)
       |SELECT ck, CAST(ret AS DOUBLE) / 10000.0 AS returned
       |FROM ctr JOIN st USING (nk)
       |WHERE CAST(10 AS DECIMAL(38,0)) * ret * cnt > CAST(12 AS DECIMAL(38,0)) * tot
       |ORDER BY ck""")

  // ---- DS Q44: best-k / worst-k paired by rank ---------------------------
  // The global windows run over the per-part aggregate (bounded by part
  // cardinality at any SF, not fact rows); pk tiebreaks make both ranks
  // total orders.
  q("q_ds44_best_worst",
    s"""WITH pp AS (
       |  SELECT l_partkey AS pk,
       |    sum(${fxSql("l_extendedprice * (1 - l_discount)", 4)}) AS msum,
       |    count(*) AS cnt
       |  FROM lineitem GROUP BY 1),
       |rk AS (
       |  SELECT pk, CAST(msum AS DOUBLE) / cnt AS avg_rev,
       |    rank() OVER (ORDER BY CAST(msum AS DOUBLE) / cnt DESC, pk) AS rb,
       |    rank() OVER (ORDER BY CAST(msum AS DOUBLE) / cnt ASC, pk) AS rw
       |  FROM pp)
       |SELECT b.rb AS rnk, b.pk AS best_pk, w.pk AS worst_pk,
       |  b.avg_rev AS best_avg, w.avg_rev AS worst_avg
       |FROM rk b JOIN rk w ON b.rb = w.rw
       |WHERE b.rb <= 10 ORDER BY rnk""")

  // ---- DS Q41: deep DNF over dimension attributes ------------------------
  q("q_ds41_dnf_dims",
    """SELECT p_brand,
      |  CAST(count(DISTINCT p_name) AS BIGINT) AS n_names,
      |  count(*) AS n_parts
      |FROM part
      |WHERE (p_size BETWEEN 1 AND 15 AND p_type IN ('ECONOMY', 'SMALL'))
      |   OR (p_size BETWEEN 20 AND 30 AND p_type LIKE '%TANDAR%')
      |   OR (p_retailprice > 980 AND p_type = 'PROMO')
      |GROUP BY p_brand ORDER BY p_brand""")

  // ---- DS Q35: EXISTS-gated per-group statistics -------------------------
  q("q_ds35_exists_stats",
    s"""SELECT c_nationkey, c_mktsegment,
       |  count(*) AS n_cust,
       |  min(c_acctbal) AS bal_min,
       |  max(c_acctbal) AS bal_max,
       |  ${fsumSql("c_acctbal", 2)} AS bal_sum
       |FROM customer
       |WHERE EXISTS (SELECT 1 FROM orders
       |              WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
       |GROUP BY 1, 2 ORDER BY 1, 2""")
}
