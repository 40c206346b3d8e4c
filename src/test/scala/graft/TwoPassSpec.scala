package graft

import graft.queries.TwoPass
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Equivalence pins for the r12 TwoPass helpers: each must be
  * value-identical to the unpartitioned-window form it replaced
  * (row_number / ntile / exclusive running sum over a total order),
  * including the N < n ntile edge and multi-partition inputs (so the
  * range-partition offset path is live).
  */
class TwoPassSpec extends SparkSpec {

  private def orders = Tables.orders(spark, sf)
    .select(col("o_orderkey"), col("o_totalprice"))
    .repartition(7) // scramble the layout so range partitioning does real work

  test("globalRank ≡ row_number over the unpartitioned window") {
    val keys = Seq(col("o_totalprice"), col("o_orderkey"))
    val win = orders.withColumn("rn",
      row_number().over(Window.orderBy(keys: _*)).cast("long"))
    val tp = TwoPass.globalRank(orders, keys, "rn")
    assert(win.select("o_orderkey", "rn").except(
      tp.select("o_orderkey", "rn")).isEmpty)
    assert(tp.count() == win.count())
  }

  test("globalNtile ≡ ntile(15) over the unpartitioned window") {
    val keys = Seq(col("o_orderkey"))
    val win = orders.withColumn("f",
      ntile(15).over(Window.orderBy(keys: _*)).cast("long"))
    val tp = TwoPass.globalNtile(orders, 15, keys, "f")
    assert(win.select("o_orderkey", "f").except(
      tp.select("o_orderkey", "f")).isEmpty)
    assert(tp.count() == win.count())
  }

  test("globalNtile N < n edge: every row its own bucket, in rank order") {
    val tiny = orders.orderBy("o_orderkey").limit(6)
    val tp = TwoPass.globalNtile(tiny, 15, Seq(col("o_orderkey")), "f")
      .orderBy("o_orderkey").select("f").collect().map(_.getLong(0))
    assert(tp.toSeq == (1L to 6L))
  }

  private val hybrids = Seq("layout_pruning_stats", "q_histogram_equidepth",
    "pipeline_token_budget", "pipeline_e2e_curation", "graph_hits")

  /** Each registry hybrid's classic-window answer against its forced
    * two-pass answer, the latter computed under the extra `confs`. */
  private def assertPathsAgree(confs: Map[String, String]): Unit =
    hybrids.foreach { n =>
      spark.conf.unset(TwoPass.SmallInputLimitKey)
      val classic = SparkEntry.queries(n)(spark, sf).collect().map(_.toString)
      (confs + (TwoPass.SmallInputLimitKey -> "0")).foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val twopass = SparkEntry.queries(n)(spark, sf).collect().map(_.toString)
        assert(classic.sameElements(twopass), s"path drift for $n")
      } finally (confs.keySet + TwoPass.SmallInputLimitKey).foreach(spark.conf.unset)
    }

  test("registry hybrids: forced two-pass path ≡ classic window path") {
    assertPathsAgree(Map.empty)
  }

  test("two-pass path is exact without exchange reuse under lossy range sampling") {
    // Every plan branch that reads the range-partitioned frame gets its own
    // exchange and its own rdd-id-seeded sample; two samples of 2 rows per
    // partition disagree on the boundaries, so the partition totals and
    // the rows they offset must come from one evaluated partitioning. AQE
    // would coalesce a fixture's range partitions into one, where any
    // boundaries agree; past the size gate they stay apart.
    assertPathsAgree(Map(
      "spark.sql.exchange.reuse" -> "false",
      "spark.sql.execution.rangeExchange.sampleSizePerPartition" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
  }

  test("exclusivePrefixSum ≡ sum window minus own value, desc order") {
    val grouped = orders.groupBy(col("o_totalprice").as("score"))
      .agg(count(lit(1)).as("tok_g"))
    val win = grouped.withColumn("prefix",
      sum("tok_g").over(Window.orderBy(col("score").desc)) - col("tok_g"))
    val tp = TwoPass.exclusivePrefixSum(grouped,
      Seq(col("score").desc), "tok_g", "prefix")
    assert(win.select("score", "prefix").except(
      tp.select("score", "prefix")).isEmpty)
    assert(tp.count() == win.count())
  }
}
