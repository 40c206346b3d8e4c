package graft.queries

import graft.{JobCounter, Session, SparkEntry, SparkSpec}

/** The `Fixpoint` loops of the graph family: the loud budgets of bfs and
  * kcore, and the jobs each query starts at sf0.001, which change when
  * the rounds or probes a query runs change. */
class GraphFixpointSpec extends SparkSpec {

  test("bfs with too small a budget cannot prove a fixpoint and throws") {
    // the sf0.001 fixture converges in 3 rounds, the confirming one included
    val e = intercept[IllegalStateException](GraphQueries.bfs(spark, sf, maxIter = 2))
    assert(e.getMessage.contains("BFS did not converge within 2 iterations"))
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
    val want = Seq("graph_bfs" -> 5, "graph_sssp" -> 5, "graph_kcore" -> 9,
      "graph_ktruss" -> 51)
    assert(want.map { case (q, _) => q -> jobs(q) } === want)
  }

  test("graph_dag_layers at sf0.001 runs one job per relaxation round") {
    // 2 jobs for the edge build's self-join, 1 edge-partitioning job, then
    // 41 rounds: layers 0-40 and the round that confirms nothing moved
    assert(jobs("graph_dag_layers") === 2 + 1 + 41)
  }
}
