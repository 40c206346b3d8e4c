package graft.queries

import graft.{Session, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two SQL surfaces Spark 4 added that older engines route around:
  * recursive CTEs (`WITH RECURSIVE`) and correlated LATERAL subqueries.
  * Both run as SQL TEXT through `spark.sql` over registered views — the
  * same entry path as q_sql_entry — and both have near-verbatim DuckDB
  * oracles because the SQL is portable.
  *
  * The recursive demo walks an ancestor chain (node → node div 10 → … → 0),
  * an ACYCLIC hierarchy: Spark 4.1 recursion supports UNION ALL only, so
  * cyclic-graph fixpoints (which need UNION dedup to terminate) stay with
  * the iterative DataFrame loops in GraphQueries — that split is the
  * scale guidance: recursion-depth-bounded hierarchies in SQL, diameter-
  * bounded graph fixpoints as checkpointed loops.
  */
object RecursiveQueries {

  /** Hierarchy flattening via WITH RECURSIVE: every customer key walks its
    * decimal-truncation ancestor chain to the root; output is the per-depth
    * population with node/ancestor checksums (depth ≤ 1 + log10(max key),
    * so the recursion is bounded by construction).
    *
    * Runs on a private child session (the registry isolation contract)
    * with `spark.sql.cteRecursionRowLimit` lifted: the default 1M-row
    * guard is a fixture-scale artifact — the sf1 sweep hit it at 1.5M
    * customers × ~7 depth levels (RECURSION_ROW_LIMIT_EXCEEDED). Total
    * recursion volume here is rows × depth, LINEAR in input because the
    * depth is bounded by construction, so the correct scale posture is
    * level-limited (the engine's default 100 still applies), not
    * row-limited. The level limit stays: it is what actually protects
    * against a non-terminating recursion.
    */
  def recursiveAncestors(outer: SparkSession, d: String): DataFrame = {
    val s = Session.child(outer, "spark.sql.cteRecursionRowLimit" -> "-1")
    Tables.customer(s, d).createOrReplaceTempView("rec_customer")
    s.sql(
      """WITH RECURSIVE anc(node, anc, depth) AS (
        |  SELECT c_custkey, c_custkey div 10, 1 FROM rec_customer WHERE c_custkey > 0
        |  UNION ALL
        |  SELECT node, anc div 10, depth + 1 FROM anc WHERE anc > 0
        |)
        |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_nodes,
        |       sum(node) AS node_sum, sum(anc) AS anc_sum
        |FROM anc GROUP BY depth ORDER BY depth""".stripMargin)
  }

  /** Correlated LATERAL subquery with per-row ORDER BY + LIMIT: top-2
    * orders by price for every customer — the "top-k per key written the
    * way analysts write it" surface (Catalyst decorrelates it to the same
    * windowed shape as q_topk_pergroup; no per-row re-execution).
    */
  def lateralTopk(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("lat_customer")
    Tables.orders(s, d).createOrReplaceTempView("lat_orders")
    s.sql(
      """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        |FROM lat_customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM lat_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        |ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_recursive_cte" -> (recursiveAncestors(_, _)),
    "q_lateral_topk" -> (lateralTopk(_, _))
  )

  val oracles: Map[String, String] = Map(
    "q_recursive_cte" ->
      """WITH RECURSIVE anc(node, anc, depth) AS (
        |  SELECT c_custkey, c_custkey // 10, 1 FROM customer WHERE c_custkey > 0
        |  UNION ALL
        |  SELECT node, anc // 10, depth + 1 FROM anc WHERE anc > 0
        |)
        |SELECT CAST(depth AS BIGINT) AS depth, CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(node) AS BIGINT) AS node_sum,
        |       CAST(sum(anc) AS BIGINT) AS anc_sum
        |FROM anc GROUP BY depth ORDER BY depth""".stripMargin,
    "q_lateral_topk" ->
      """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        |ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey""".stripMargin
  )
}
