package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The driver of the iterative queries' equal-probe convergence loops:
  * components (`GraphQueries.minLabelPropagation`), bfs, sssp,
  * dag_layers, kcore and ktruss. Each is a repeated map→shuffle→reduce
  * round whose state only moves one way (labels and distances fall,
  * layers rise, peels remove edges), so a scalar probe of the state that
  * repeats means the step changed nothing, and every later round would
  * repeat verbatim. `run` owns the batching, the budget and that test;
  * each caller decides what an exhausted budget means — bfs, kcore and
  * components throw (their oracles compute the true fixpoint), while
  * sssp, dag_layers and ktruss are defined as a fixed round count and
  * return it.
  *
  * Batching (`relax`). The min/max-plus relaxations of bfs, sssp and
  * dag_layers run k rounds in one plan per materialized job. A lazy
  * `union(cur, join(e, cur))` round references the carried table twice,
  * so k unrolled rounds would re-evaluate it 2^k times (measured 4-7×
  * slower than round-at-a-time). The edge list is therefore augmented
  * with weight-0 self-loops over the vertex set: one join + one min (or
  * max) of value + w then IS the union+combine recurrence, it references
  * the carried table once, and the plan stays a linear chain. k stays
  * shallow: every in-plan round is a stage with a fixed cost (~0.3-0.5 s
  * at sf0.1), and a converged batch still runs all k of them, so a deep
  * batch buys back the job launches it saves and more (r11: bfs at k = 9
  * read 7.4-9.4 s against 3.4-4.0 s round-at-a-time); an in-plan chain
  * past pagerank's proven 10 rounds also risks overflowing the executor
  * stack when the task binary is deserialized (45 all-lazy rounds do).
  * Relaxation with self-loops is monotone and idempotent, so rounds past
  * the fixpoint inside a batch change nothing, and the last batch is cut
  * to the budget, so a run never exceeds its contractual round count.
  *
  * Convergence is only seen at batch boundaries, and proving it takes a
  * whole batch whose probe repeats the previous one. So a custom budget
  * that the fixpoint approaches within its last batch can run out where
  * a per-round probe would have converged; unseeded, one batch can never
  * prove a fixpoint. The default budgets leave ample room on every
  * fixture.
  */
private[queries] object Fixpoint {

  /** A run's final state, the probe after each batch (in order), and
    * whether the last batch's probe repeated the one before it. */
  final case class Run[S, P](state: S, probes: Vector[P], converged: Boolean)

  /** Apply `step(state, k)` in batches of k = min(`batch`, rounds left)
    * rounds until its probe equals the previous one or `budget` rounds
    * are spent. `seed`, when given, is the probe of `init`, so one
    * batch that changes nothing converges. */
  def run[S, P](init: S, budget: Int, batch: Int = 1, seed: Option[P] = None)(
      step: (S, Int) => (S, P)): Run[S, P] = {
    require(batch >= 1, s"batch must be at least 1, got $batch")
    @annotation.tailrec
    def go(state: S, done: Int, probes: Vector[P], last: Option[P]): Run[S, P] =
      if (done >= budget) Run(state, probes, converged = false)
      else {
        val k = math.min(batch, budget - done)
        val (next, p) = step(state, k)
        if (last.contains(p)) Run(next, probes :+ p, converged = true)
        else go(next, done + k, probes :+ p, Some(p))
      }
    go(init, 0, Vector.empty, seed)
  }

  /** k rounds of `value` := `combine`(value + w) over the self-loop
    * augmented edges `eAug (u, v, w)`, starting from `seed (vtx, value)`;
    * the result is checkpointed and re-based by `dropStats`. The probe,
    * (row count, value sum), is one aggregate job that also materializes
    * the checkpoint: the reached set only grows and `combine` moves each
    * value one way, so an unchanged pair means the batch changed nothing. */
  def relax(eAug: DataFrame, seed: DataFrame, value: String,
      combine: Column => Column, k: Int): (DataFrame, (Long, Long)) = {
    val cur = (1 to k).foldLeft(seed) { (cur, _) =>
      eAug.join(cur, eAug("u") === cur("vtx"))
        .groupBy(eAug("v").as("vtx"))
        .agg(combine(cur(value) + col("w")).as(value))
        .select(col("vtx"), col(value))
    }
    val next = dropStats(cur.localCheckpoint(false))
    val row = next.agg(count(lit(1)), coalesce(sum(col(value)), lit(0L))).collect()(0)
    (next, (row.getLong(0), row.getLong(1)))
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
