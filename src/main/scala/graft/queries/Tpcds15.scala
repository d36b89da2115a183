package graft.queries

import org.apache.spark.sql.functions._
import graft.engine.Tables
import Q._

/** TPC-DS sample pack, batch 15
  * (`/root/reference/extension/tpcds/dsdgen/queries/{12,16,18,20,22,81}.sql`),
  * fixture-adapted like the earlier batches:
  *
  *  - q12/q20: item revenue with its share of the class total — a window
  *         SUM over the grouped aggregate (two channels of the same
  *         shape, exactly how the benchmark ships 12/20/98).
  *  - q16: count(DISTINCT order) + cost sums gated by EXISTS (same order
  *         shipped from a second supplier) AND NOT EXISTS (no returned
  *         line) — a semi and an anti on the same probe with a distinct
  *         aggregate on top.
  *  - q18: seven exact averages over a ROLLUP of (brand, nation) with
  *         two independent "demographic" dimension joins.
  *  - q22: average quantity over a 3-level ROLLUP of part attributes.
  *  - q81: per-(customer, nation) tax-inclusive return totals above
  *         1.2× the nation average, with the geo dimension joined into
  *         the output (the q30 sibling).
  *
  * Scale shapes: class shares window over the PRE-AGGREGATED rows (never
  * the fact table); q16's existence predicates stay semi/anti joins; the
  * ROLLUPs Expand over grouped partials; q81's nation stats broadcast.
  * All money flows as exact fixed-point mantissas; averages divide once
  * at render; the 1.2× gate cross-multiplies in DECIMAL(38,0).
  */
object Tpcds15 extends Pack {

  private def classShareSql(parity: Int, year: Int): String =
    s"""WITH grouped AS (
       |  SELECT p_type, p_brand, p_partkey,
       |    sum(${fxSql("l_extendedprice", 2)}) AS m
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  WHERE l_linenumber % 2 = $parity
       |    AND l_shipdate BETWEEN DATE '$year-02-01' AND DATE '$year-03-31'
       |  GROUP BY 1, 2, 3)
       |SELECT p_type, p_brand, p_partkey,
       |  (CAST(m AS DOUBLE) / 100.0) AS itemrevenue,
       |  CAST(m AS DOUBLE) * 100.0 / sum(m) OVER (PARTITION BY p_brand)
       |    AS revenueratio
       |FROM grouped
       |ORDER BY p_type, p_brand, p_partkey LIMIT 100""".stripMargin

  // ---- DS Q12: web-channel item revenue + share of class -----------------
  q("q_ds12_class_share_web", classShareSql(0, 1996))

  // ---- DS Q20: catalog-channel sibling (different channel + window) ------
  q("q_ds20_class_share_catalog", classShareSql(1, 1997))

  // ---- DS Q16: distinct-order count gated by EXISTS / NOT EXISTS ---------
  q("q_ds16_multi_warehouse_noret",
    s"""SELECT count(DISTINCT l1.l_orderkey) AS order_count,
       |  ${fsumSql("l1.l_extendedprice", 2)} AS total_price,
       |  CAST(sum(${fxSql("l1.l_extendedprice * l1.l_tax", 4)}) AS BIGINT)
       |    AS tax_mantissa
       |FROM lineitem l1
       |JOIN orders ON l1.l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_nationkey < 10
       |  AND l1.l_shipdate BETWEEN DATE '1996-02-01' AND DATE '1996-04-02'
       |  AND EXISTS (SELECT 1 FROM lineitem l2
       |              WHERE l2.l_orderkey = l1.l_orderkey
       |                AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
       |                  WHERE l3.l_orderkey = l1.l_orderkey
       |                    AND l3.l_returnflag = 'R')""")

  // ---- DS Q18: exact averages over ROLLUP with two demographic dims ------
  // dim1 = customer nation (gendered-demographic analog), dim2 = supplier
  // nation — two independent joins feeding averages of measures from
  // three tables, rolled up over (brand, customer-nation).
  private val ds18Sql =
    s"""SELECT p_brand, c_nationkey,
       |  ${favgSql("l_quantity", 2)} AS agg1,
       |  ${favgSql("l_extendedprice", 2)} AS agg2,
       |  ${favgSql("l_discount", 2)} AS agg3,
       |  ${favgSql("l_tax", 2)} AS agg4,
       |  ${favgSql("o_totalprice", 2)} AS agg5,
       |  ${favgSql("s_acctbal", 2)} AS agg6
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN part ON l_partkey = p_partkey
       |WHERE c_nationkey IN (1, 6, 8, 9, 12, 2)
       |  AND s_nationkey < 10
       |  AND year(o_orderdate) = 1997
       |  AND p_size <= 15
       |GROUP BY ROLLUP(p_brand, c_nationkey)
       |ORDER BY p_brand NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin
  q("q_ds18_rollup_averages", ds18Sql)

  // ---- DS Q22: average quantity over a 3-level part-attribute ROLLUP -----
  // (no inventory/mfgr/container columns in the fixture: type-word,
  // brand, size play the attribute ladder)
  private val ds22Sql =
    s"""SELECT split_part(p_type, ' ', 1) AS p_class, p_brand, p_size,
       |  ${favgSql("l_quantity", 2)} AS qoh,
       |  count(*) AS n
       |FROM lineitem JOIN part ON p_partkey = l_partkey
       |WHERE l_shipdate >= DATE '1997-01-01'
       |GROUP BY ROLLUP(split_part(p_type, ' ', 1), p_brand, p_size)""".stripMargin
  q("q_ds22_inventory_rollup", ds22Sql)

  // ---- DS Q81: tax-inclusive return outliers with geo output -------------
  built("q_ds81_return_outliers_geo",
    s"""WITH ctr AS (
       |  SELECT o_custkey AS ck, c_nationkey AS nk,
       |    sum(${fxSql("l_extendedprice * (1 + l_tax)", 4)}) AS total
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  WHERE l_returnflag = 'R' AND year(l_shipdate) >= 1996
       |  GROUP BY 1, 2)
       |SELECT c_custkey, c_name, n_name, r_name,
       |  (CAST(total AS DOUBLE) / 10000.0) AS returned
       |FROM ctr
       |JOIN customer ON ck = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE CAST(total AS DECIMAL(38,0)) * 10 *
       |      (SELECT count(*) FROM ctr c2 WHERE c2.nk = ctr.nk)
       |    > (SELECT CAST(sum(total) AS DECIMAL(38,0)) FROM ctr c2
       |       WHERE c2.nk = ctr.nk) * 12
       |ORDER BY c_custkey""") { (s, dir) =>
    val ctr = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R" && year(col("l_shipdate")) >= 1996)
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey").as("ck"), col("c_nationkey").as("nk"))
      .agg(sum(fx(col("l_extendedprice") * (lit(1) + col("l_tax")), 4)).as("total"))
    val stats = ctr.groupBy(col("nk").as("snk"))
      .agg(count(lit(1)).as("n"), sum("total").as("ssum"))
    val d38 = "decimal(38,0)"
    ctr.join(broadcast(stats), col("nk") === col("snk"))
      .filter(col("total").cast(d38) * 10 * col("n") > col("ssum").cast(d38) * 12)
      .join(Tables.customer(s, dir).select("c_custkey", "c_name", "c_nationkey"),
        col("ck") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("r_name"),
        (col("total").cast("double") / 10000.0).as("returned"))
      .orderBy("c_custkey")
  }
}
