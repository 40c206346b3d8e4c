package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** `Fixpoint.propagate` — the round behind components, bfs, sssp and
  * dag_layers — on hand-built graphs against driver-side algorithms: a
  * max-plus DAG against a topological DP, weighted min-plus against
  * Dijkstra, and its per-round budget.
  */
class PropagateSpec extends SparkSpec {
  import spark.implicits._

  private def values(run: Fixpoint.Run[DataFrame, (Long, Long)]): Map[Long, Long] = {
    assert(run.state.columns.toSeq === Seq("vtx", "value"))
    val rows = run.state.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length === rows.length, "one value per vertex")
    rows.toMap
  }

  private val sources: Long => Option[Long] = v => if (v < 10) Some(0L) else None

  test("max-plus over a DAG whose sinks have no out-edges equals the topological DP") {
    val rnd = new scala.util.Random(20261018L)
    for (n <- Seq(2, 30, 300)) {
      val ids = Array.fill(n)(rnd.nextLong() % 1000000L).distinct.sorted
      // u < v by position, so the edges are acyclic and the largest ids are sinks
      val edges = Seq.fill(2 * n) {
        val (i, j) = (rnd.nextInt(ids.length), rnd.nextInt(ids.length))
        (ids(math.min(i, j)), ids(math.max(i, j)), 1L + rnd.nextInt(5))
      }.filter(e => e._1 != e._2).distinct
      val preds = edges.groupBy(_._2)
      val layer = scala.collection.mutable.Map.empty[Long, Long]
      edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted.foreach { v =>
        layer(v) = preds.getOrElse(v, Nil).map(e => layer(e._1) + e._3).foldLeft(0L)(math.max)
      }
      val run = Fixpoint.propagate(edges.toDF("u", "v", "w"), _ => Some(0L),
        Fixpoint.Max, symmetric = false, ids.length + 1)
      assert(run.converged, s"n = $n")
      assert(values(run) === layer.toMap, s"n = $n")
    }
  }

  test("weighted min-plus equals Dijkstra; unreached vertices are absent") {
    val rnd = new scala.util.Random(20261019L)
    for (n <- Seq(2, 17, 120, 600)) {
      // sparse ids, negative ones included (all of them sources), and
      // more vertices than edges reach, so some components hold no source
      val ids = Array.fill(n)(rnd.nextLong() % 1000000000L)
      val pairs = Seq.fill(rnd.nextInt(n) + 1)(ids(rnd.nextInt(n)) -> ids(rnd.nextInt(n)))
      val weighted = pairs.map { case (u, v) => (u, v, 1L + rnd.nextInt(1000)) }
      val edges = (weighted ++ weighted.map(e => (e._2, e._1, e._3))).distinct
      val adj = edges.groupBy(_._1)
      val dist = scala.collection.mutable.Map.empty[Long, Long]
      val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](
        Ordering.by[(Long, Long), Long](_._1).reverse)
      edges.map(_._1).distinct.filter(_ < 10).foreach { s => dist(s) = 0L; pq.enqueue((0L, s)) }
      while (pq.nonEmpty) {
        val (d, u) = pq.dequeue()
        if (d == dist(u)) adj.getOrElse(u, Nil).foreach { case (_, v, w) =>
          if (dist.get(v).forall(_ > d + w)) { dist(v) = d + w; pq.enqueue((d + w, v)) }
        }
      }
      val run = Fixpoint.propagate(edges.toDF("u", "v", "w"), sources,
        Fixpoint.Min, symmetric = true, n + 2)
      assert(run.converged, s"n = $n")
      assert(values(run) === dist.toMap, s"n = $n")
    }
  }

  test("a path of n vertices from one source converges with budget n and runs out at n - 1") {
    val n = 9
    val path = (0L until n - 1L).flatMap(i => Seq((i, i + 1, 1L), (i + 1, i, 1L))).toDF("u", "v", "w")
    def bfs(budget: Int) = Fixpoint.propagate(path, v => if (v == 0L) Some(0L) else None,
      Fixpoint.Min, symmetric = true, budget)
    val full = bfs(n)
    assert(full.converged)
    assert(values(full) === (0L until n).map(i => i -> i).toMap)
    assert(!bfs(n - 1).converged)
    // the same path, directed: round 0 is the source alone
    val directed = path.filter($"u" < $"v")
    def dag(budget: Int) = Fixpoint.propagate(directed, v => if (v == 0L) Some(0L) else None,
      Fixpoint.Min, symmetric = false, budget)
    val dagFull = dag(n)
    assert(dagFull.converged && values(dagFull) === values(full))
    assert(!dag(n - 1).converged)
  }
}
