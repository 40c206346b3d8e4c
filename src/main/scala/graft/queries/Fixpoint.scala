package graft.queries

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** The iterative queries' equal-probe convergence loops, and the one
  * min/max-plus propagation round they share.
  *
  * `run` drives components (`GraphQueries.minLabelPropagation`), bfs,
  * sssp, dag_layers, kcore and ktruss. Each is a repeated
  * map→shuffle→reduce round whose state only moves one way (labels and
  * distances fall, layers rise, peels remove edges), so a scalar probe of
  * the state that repeats means the round changed nothing, and every
  * later round would repeat verbatim. `run` owns the budget and that
  * test; each caller decides what an exhausted budget means — bfs, kcore
  * and components throw (their oracles compute the true fixpoint), while
  * sssp, dag_layers and ktruss are defined as a fixed round count and
  * return it.
  *
  * `propagate` is the round of components, bfs, sssp and dag_layers:
  * every vertex keeps the `Min` (or `Max`) of its own value and
  * value + w over its in-edges. It runs on co-partitioned pair RDDs, as
  * GraphX's Pregel does: the edges are hash-partitioned on their source
  * once and held per partition as a CSR block (`Adjacency`), and every
  * round's values are one array per partition aligned with that block's
  * vertices, so reading a vertex's value next to its out-edges is a
  * narrow zip. A round is one job of two stages:
  *   - map: each vertex whose value moved last round sends value + w
  *     along its out-edges, combined per target on the map side — a
  *     vertex whose value held already delivered it, so the values after
  *     every round equal full relaxation's and the round count is
  *     unchanged;
  *   - reduce: the combine of the messages lands on the same
  *     partitioner, zipped with the old values, and the probe is the
  *     job's action.
  * No Catalyst, AQE or codegen work runs per round. Each round's values
  * are `localCheckpoint`ed — materialized by the probe in the same job —
  * and the previous round's blocks released once the new ones exist. On
  * a cluster use reliable checkpoints against the DFS instead.
  */
private[queries] object Fixpoint {

  /** A run's final state, the probe after each round (in order), and
    * whether the last round's probe repeated the one before it. */
  final case class Run[S, P](state: S, probes: Vector[P], converged: Boolean)

  /** Apply `step` until its probe equals the previous one or `budget`
    * rounds are spent. `seed`, when given, is the probe of `init`, so one
    * round that changes nothing converges. */
  def run[S, P](init: S, budget: Int, seed: Option[P] = None)(step: S => (S, P)): Run[S, P] = {
    @annotation.tailrec
    def go(state: S, done: Int, probes: Vector[P], last: Option[P]): Run[S, P] =
      if (done >= budget) Run(state, probes, converged = false)
      else {
        val (next, p) = step(state)
        if (last.contains(p)) Run(next, probes :+ p, converged = true)
        else go(next, done + 1, probes :+ p, Some(p))
      }
    go(init, 0, Vector.empty, seed)
  }

  /** How a vertex keeps the better of two values; `unreached` is the
    * value no message can lose to. */
  sealed abstract class Combine(val unreached: Long) extends Serializable {
    def better(a: Long, b: Long): Boolean
  }
  case object Min extends Combine(Long.MaxValue) {
    def better(a: Long, b: Long): Boolean = a < b
  }
  case object Max extends Combine(Long.MinValue) {
    def better(a: Long, b: Long): Boolean = a > b
  }

  /** At most `rounds` rounds of value := `combine`(value, value + w over
    * in-edges) over `edges (u, v, w)`, from `init(vtx)` (`None`:
    * unreached). Returns (vtx, value) for every reached vertex of the edge
    * set, and whether the run converged.
    *
    * The probe is (reached count, value sum): the reached set only grows
    * and `combine` moves each value one way, so an unchanged pair means
    * the round changed nothing. A `symmetric` edge set holds (v, u, w) for
    * every (u, v, w), so a vertex's in-neighbours are its out-neighbours:
    * round 1 then folds into the edge-partitioning job, because `init` is
    * a function of the vertex id and each vertex evaluates its neighbours'
    * initial values locally. Otherwise round 0 is `init`, every reached
    * vertex sends in round 1, and each edge target also joins its block,
    * so a vertex without out-edges still holds a value.
    */
  def propagate(edges: DataFrame, init: Long => Option[Long], combine: Combine,
      symmetric: Boolean, rounds: Int): Run[DataFrame, (Long, Long)] = {
    require(rounds >= 1, s"a propagation needs at least one round, got $rounds")
    val s = edges.sparkSession
    val recs = edges.select(col("u").cast("long"), col("v").cast("long"), col("w").cast("long"))
      .queryExecution.toRdd.flatMap { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2), "null in the edge set")
        val (u, v) = (r.getLong(0), r.getLong(1))
        val out = Iterator.single(u -> Some((v, r.getLong(2))))
        if (symmetric) out else out ++ Iterator.single(v -> None)
      }
    // as many partitions as AQE sized the edge set into, at most the
    // session's shuffle partitions: a small graph runs few tasks a round
    val part = new HashPartitioner(math.max(1,
      math.min(s.sessionState.conf.numShufflePartitions, recs.getNumPartitions)))
    val base = recs.partitionBy(part).mapPartitions({ it =>
      val a = Adjacency(it)
      Iterator((a, a.initial(init, combine, symmetric)))
    }, preservesPartitioning = true).localCheckpoint()
    val adj = base.mapPartitions(_.map(_._1), preservesPartitioning = true)
    val first = base.mapPartitions(_.map(_._2), preservesPartitioning = true)
    val run = Fixpoint.run(first, if (symmetric) rounds - 1 else rounds,
        seed = Some(probe(first, combine))) { values =>
      val msgs = adj.zipPartitions(values)((a, l) => only(a).messages(only(l), combine))
        .partitionBy(part)
      val next = adj.zipPartitions(values, msgs) { (a, l, m) =>
        Iterator(only(a).receive(only(l), m, combine))
      }.localCheckpoint()
      val p = probe(next, combine)
      values.unpersist(blocking = false)
      (next, p)
    }
    val rows = adj.zipPartitions(run.state)((a, l) => only(a).reached(only(l), combine))
    val df = s.createDataFrame(rows, new StructType().add("vtx", LongType).add("value", LongType))
    Run(df, run.probes, run.converged)
  }

  /** A partition's single block. Draining the iterator releases the
    * cached block's read lock as soon as it is taken. */
  private def only[T](it: Iterator[T]): T = {
    val x = it.next()
    require(!it.hasNext, "one block per partition")
    x
  }

  private def probe(values: RDD[Values], combine: Combine): (Long, Long) =
    values.map { l =>
      var (n, t) = (0L, 0L)
      l.value.foreach(x => if (x != combine.unreached) { n += 1; t += x })
      (n, t)
    }.fold((0L, 0L)) { case ((n1, t1), (n2, t2)) => (n1 + n2, t1 + t2) }

  /** One partition's values, aligned with its `Adjacency.vtx`, and the
    * vertices whose value moved in the round that produced them. */
  private final class Values(val value: Array[Long], val changed: java.util.BitSet)
      extends Serializable

  /** One partition's edges in CSR form: sorted distinct vertices `vtx`,
    * the out-edges of `vtx(i)` to `nbr(j)` weighing `wt(j)` for j in
    * `off(i) until off(i + 1)`. */
  private final class Adjacency(val vtx: Array[Long], off: Array[Int],
      nbr: Array[Long], wt: Array[Long]) extends Serializable {

    private def index(v: Long): Int = {
      val i = java.util.Arrays.binarySearch(vtx, v)
      require(i >= 0, s"vertex $v has an in-edge but is missing from its block")
      i
    }

    /** Round 1 when `folded` (the edges are symmetric), else round 0. */
    def initial(init: Long => Option[Long], c: Combine, folded: Boolean): Values = {
      val value = new Array[Long](vtx.length)
      val changed = new java.util.BitSet(vtx.length)
      var i = 0
      while (i < vtx.length) {
        val own = init(vtx(i)).getOrElse(c.unreached)
        var x = own
        if (folded) {
          var j = off(i)
          while (j < off(i + 1)) {
            init(nbr(j)).foreach(y => if (c.better(y + wt(j), x)) x = y + wt(j))
            j += 1
          }
        }
        value(i) = x
        // folded, the neighbours already combined `own` into their round 1
        if (x != (if (folded) own else c.unreached)) changed.set(i)
        i += 1
      }
      new Values(value, changed)
    }

    /** The changed vertices' values plus edge weight, combined per target. */
    def messages(l: Values, c: Combine): Iterator[(Long, Long)] = {
      val best = scala.collection.mutable.LongMap.empty[Long]
      var i = l.changed.nextSetBit(0)
      while (i >= 0) {
        var j = off(i)
        while (j < off(i + 1)) {
          val x = l.value(i) + wt(j)
          if (c.better(x, best.getOrElse(nbr(j), c.unreached))) best.update(nbr(j), x)
          j += 1
        }
        i = l.changed.nextSetBit(i + 1)
      }
      best.iterator
    }

    /** The next round's values: the old ones improved by the messages. */
    def receive(old: Values, msgs: Iterator[(Long, Long)], c: Combine): Values = {
      val value = old.value.clone()
      val changed = new java.util.BitSet(vtx.length)
      msgs.foreach { case (v, x) =>
        val i = index(v)
        if (c.better(x, value(i))) { value(i) = x; changed.set(i) }
      }
      new Values(value, changed)
    }

    def reached(l: Values, c: Combine): Iterator[Row] =
      vtx.indices.iterator.filter(l.value(_) != c.unreached).map(i => Row(vtx(i), l.value(i)))
  }

  private object Adjacency {
    /** From (u, Some(v, w)) out-edges and (v, None) bare vertices. */
    def apply(recs: Iterator[(Long, Option[(Long, Long)])]): Adjacency = {
      val keys = Array.newBuilder[Long]
      val us = Array.newBuilder[Long]
      val vs = Array.newBuilder[Long]
      val ws = Array.newBuilder[Long]
      recs.foreach {
        case (u, Some((v, w))) => keys += u; us += u; vs += v; ws += w
        case (v, None) => keys += v
      }
      val (u, v, w) = (us.result(), vs.result(), ws.result())
      val sorted = keys.result()
      java.util.Arrays.sort(sorted)
      var m = 0
      var j = 0
      while (j < sorted.length) {
        if (m == 0 || sorted(m - 1) != sorted(j)) { sorted(m) = sorted(j); m += 1 }
        j += 1
      }
      val vtx = java.util.Arrays.copyOf(sorted, m)
      val off = new Array[Int](m + 1)
      u.foreach(x => off(java.util.Arrays.binarySearch(vtx, x) + 1) += 1)
      j = 0
      while (j < m) { off(j + 1) += off(j); j += 1 }
      val fill = java.util.Arrays.copyOf(off, m)
      val nbr = new Array[Long](u.length)
      val wt = new Array[Long](u.length)
      j = 0
      while (j < u.length) {
        val i = java.util.Arrays.binarySearch(vtx, u(j))
        nbr(fill(i)) = v(j)
        wt(fill(i)) = w(j)
        fill(i) += 1
        j += 1
      }
      new Adjacency(vtx, off, nbr, wt)
    }
  }

  /** Re-base `df` onto a fresh LogicalRDD with NO inherited statistics.
    * localCheckpoint truncates the logical plan but PRESERVES the origin
    * plan's size estimate, and Catalyst's join estimation MULTIPLIES
    * child sizes — so an iterative join loop compounds the estimate
    * round over round until the BigInt's digit count itself grows
    * exponentially and the driver spends minutes inside
    * BigInteger.multiply (observed: rounds 0-2 sub-second, round 4+
    * 25 s/job, all in stats math, zero executor work). Dropping the
    * stats at each round boundary caps every round's estimate at one
    * round's worth of joins over unknown-size leaves. */
  def dropStats(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)
}
