package graft.queries

import graft.{JobCounter, Session, SparkEntry, SparkSpec}

/** The `Fixpoint` loops of the graph family: the loud budgets of bfs and
  * kcore, and the jobs each query starts at sf0.001 (as measured before
  * the loops moved onto `Fixpoint`), which change when the batches or
  * probes a query runs change. */
class GraphFixpointSpec extends SparkSpec {

  test("bfs with a one-batch budget cannot prove a fixpoint and throws") {
    val e = intercept[IllegalStateException](GraphQueries.bfs(spark, sf, maxIter = 3))
    assert(e.getMessage.contains("BFS did not converge within 3 iterations"))
  }

  test("kcore with a one-round budget cannot prove a fixpoint and throws") {
    val e = intercept[IllegalStateException](GraphQueries.kcore(spark, sf, maxIter = 1))
    assert(e.getMessage.contains("k-core peel did not converge within 1 rounds"))
  }

  private def jobs(q: String): Int = {
    Session.reset(spark)
    JobCounter.count(spark)(SparkEntry.queries(q)(spark, sf))._2
  }

  test("graph loop queries at sf0.001 start a pinned number of jobs") {
    val want = Seq("graph_bfs" -> 19, "graph_sssp" -> 23, "graph_kcore" -> 9,
      "graph_ktruss" -> 51)
    assert(want.map { case (q, _) => q -> jobs(q) } === want)
  }

  test("graph_dag_layers at sf0.001 runs one job per relaxation batch") {
    // with AQE its count varies from run to run (74-76 at the same
    // commit), so it is counted without AQE: one job broadcasts a side
    // of the edge build's self-join, then each batch's checkpoint and
    // probe is one job — 5 batches of 9 rounds
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try assert(jobs("graph_dag_layers") === 1 + 5)
    finally spark.conf.set(key, saved)
  }
}
