package graft.queries

import graft.{JobCounter, Session, SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame

/** `GraphQueries.minLabelPropagation` — the pair-RDD rounds behind
  * `graph_components` and the `dedup_clusters` fallback — against a
  * driver-side union-find (the `PipelineQueries.dedupClusters` local
  * path's algorithm), plus its round budget and its per-round job count.
  */
class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  /** Both directions of every pair, as both callers pass them. */
  private def undirected(pairs: Seq[(Long, Long)]): DataFrame =
    (pairs ++ pairs.map(_.swap)).toDF("u", "v")

  /** vertex → min vertex id of its component, by union-find. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.map(v => v -> find(v)).toMap
  }

  private def propagate(pairs: Seq[(Long, Long)], maxIter: Int): Map[Long, Long] = {
    val out = GraphQueries.minLabelPropagation(undirected(pairs), maxIter)
    assert(out.columns.toSeq === Seq("vtx", "comp"))
    val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length === rows.length, "one label per vertex")
    rows.toMap
  }

  test("an empty graph converges to no labels") {
    assert(propagate(Nil, 2).isEmpty)
  }

  test("self-loops and disjoint pairs match union-find") {
    val loops = Seq(3L -> 3L, 9L -> 9L, -4L -> -4L)
    assert(propagate(loops, 5) === unionFind(loops))
    val pairs = (0L until 40L).map(i => (2 * i + 1) -> (2 * i)) ++ Seq(7L -> 7L)
    assert(propagate(pairs, 5) === unionFind(pairs))
  }

  test("random graphs match union-find") {
    val rnd = new scala.util.Random(20261017L)
    for (n <- Seq(2, 17, 120, 600)) {
      // sparse ids, negative ones included, so components span partitions
      val ids = Array.fill(n)(rnd.nextLong() % 1000000000L)
      val pairs = Seq.fill(rnd.nextInt(2 * n) + 1)(ids(rnd.nextInt(n)) -> ids(rnd.nextInt(n)))
      assert(propagate(pairs, n + 2) === unionFind(pairs), s"n = $n")
    }
  }

  test("the budget counts propagation rounds: a path of n vertices needs n") {
    val n = 9
    val path = (0L until n - 1L).map(i => i -> (i + 1))
    assert(propagate(path, n) === unionFind(path))
    val e = intercept[IllegalStateException](propagate(path, n - 1))
    assert(e.getMessage.contains("did not converge within 8 iterations"))
  }

  test("dedup_clusters' distributed fallback equals its driver-side union-find") {
    val local = PipelineQueries.dedupClusters(spark, sf).collect().toSeq
    val distributed = PipelineQueries.dedupClusters(spark, sf, localCap = 0).collect().toSeq
    assert(local.nonEmpty)
    assert(distributed === local)
  }

  test("graph_components at sf0.001 runs one job per propagation round") {
    Session.reset(spark)
    val (df, jobs) = JobCounter.count(spark)(SparkEntry.queries("graph_components")(spark, sf))
    // the edge set's two distinct exchanges run as AQE jobs; then one job
    // partitions the edges with round 1 folded in, and one job runs each
    // later round: the fixture graph converges in 3 rounds (the last one
    // confirms the fixpoint)
    assert(jobs === 2 + 1 + 2)
    assert(df.count() > 0)
  }
}
