package graft.queries

import graft.Tables
import graft.plans.Fnv1a64
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Iterative graph computation — connected components by min-label
  * propagation, the Pregel-shaped workload a MapReduce lineage engine should
  * express (the reference stops at single-pass vertex degree,
  * /root/reference/src/app/vertex_degree.rs).
  *
  * Each round of the components loop is one Spark job of two stages over
  * pair RDDs that share one hash partitioner (see `minLabelPropagation`);
  * the driver only sees a scalar convergence sum. Edges are partitioned
  * and checkpointed once and re-used by every round, each round's labels
  * are local-checkpointed and the previous round's released, and
  * min-label propagation converges in O(component diameter) rounds
  * regardless of cluster size. The other iterative queries here run
  * DataFrame rounds truncated by lazy `localCheckpoint`s.
  */
object GraphQueries {

  /** Undirected edges: bipartite part↔supplier restricted to equal residue
    * classes mod 10, so the graph has ≥10 real components (the full
    * lineitem graph is one giant blob — useless as a test).
    */
  private[queries] def edges(s: SparkSession, d: String): DataFrame = {
    // r12 (guide §2.4): ONE canonical distinct instead of the historical
    // two (inner pair distinct + outer distinct after symmetrization).
    // Set algebra, valid at EVERY scale — no id-range assumption:
    //   distinct(A ∪ rev(A)) = C ∪ rev(C \ diagonal)
    // where C = distinct (least, greatest) canonical pairs: every
    // undirected pair appears in C exactly once with a ≤ b, the reversed
    // branch (a > b strictly) is DISJOINT from C by construction, and a
    // self-loop (a = b, possible from sf≥5 where partkeys overlap
    // s+1e6 — the r11 revert's exact hazard) is emitted exactly once by
    // the C branch and filtered from the reversal. One exchange carries
    // the canonical pair set; the symmetrizing union is exchange-free.
    // Measured same-JVM interleaved at sf0.1: 3 → 2 Exchanges,
    // 0.73-2.00 → 0.52-1.69 s per derivation, identical 118 544-row set —
    // times ~17 graph consumers per full run.
    //
    // r11 note (still binding): dropping dedup OUTRIGHT on the
    // disjoint-id-range argument was tried and REVERTED — partkeys exceed
    // 1e6 from sf≥5, where forward (p, s+1e6) and reversed pairs CAN
    // coincide and duplicate edges would skew the counting consumers
    // (pagerank degrees, hits sums, modularity) against their
    // distinct-based oracles. Dedup stays; it just costs one exchange
    // now, not two.
    val li = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 10 === col("l_suppkey") % 10)
      .select(least(col("l_partkey"), col("l_suppkey") + 1000000L).as("a"),
        greatest(col("l_partkey"), col("l_suppkey") + 1000000L).as("b"))
      .distinct()
    li.select(col("a").as("u"), col("b").as("v"))
      .union(li.filter(col("a") =!= col("b"))
        .select(col("b").as("u"), col("a").as("v")))
  }

  /** Connected components: (vertex, component) with component = min vertex
    * id reachable. Deterministic fixpoint, DuckDB recursive-CTE oracle.
    */
  def connectedComponents(s: SparkSession, d: String, maxIter: Int = 25): DataFrame =
    minLabelPropagation(edges(s, d), maxIter).orderBy("vtx")

  /** No-op: the module keeps no state across queries. Kept because the
    * benchmark harness (`perfbench` `Harness.resetState`) calls it. */
  def reset(): Unit = ()

  /** Min-label propagation to fixpoint over an undirected edge set
    * `(u long, v long)` (both directions present). Returns (vtx, comp)
    * with comp = min vertex id reachable. Shared by connected components
    * here and near-dup cluster resolution (PipelineQueries.dedupClusters).
    *
    * Vertex/edge co-partitioning, as in GraphX's Pregel: the edges are
    * hash-partitioned on `u` once and held per partition as a CSR block
    * (`Adjacency`), and every round's labels are one array per partition
    * aligned with that block's vertices, so reading a vertex's label next
    * to its out-edges is a narrow zip. A round is one job of two stages:
    *   - map: each vertex whose label dropped last round sends it to its
    *     neighbours, combined per target on the map side — a vertex whose
    *     label held already delivered it, so the labels after every round
    *     equal full propagation's and the round count is unchanged;
    *   - reduce: the min of the messages lands on the same partitioner,
    *     zipped with the old labels, and the label sum — the convergence
    *     probe — is the job's action.
    * No Catalyst, AQE or codegen work runs per round. Round 1 folds into
    * the edge-partitioning job: the edges are symmetric, so a vertex's
    * first label, min(u, min over its neighbours), is computed on its own
    * partition.
    *
    * Convergence via the label-sum invariant: min-propagation only ever
    * DECREASES labels, so any change strictly decreases the sum; equal
    * consecutive sums ⇔ fixpoint (an empty graph sums to 0 twice). Each
    * round's labels are `localCheckpoint`ed — materialized by the probe
    * in the same job — and the previous round's blocks released once
    * the new ones exist. On a cluster use reliable checkpoints against
    * the DFS instead. Batching several rounds into one job (the dagLayers
    * self-loop device) was measured slower on the earlier DataFrame round
    * at sf0.1 (r11: 4.3 s round-at-a-time vs 7.7-8.3 s batched) and has
    * not been re-measured on these rounds.
    */
  private[queries] def minLabelPropagation(und: DataFrame, maxIter: Int): DataFrame = {
    // The oracle (recursive CTE) computes the TRUE fixpoint; returning
    // partially-propagated labels on a graph whose diameter exceeds the
    // iteration budget would silently diverge from it. Fail loudly instead.
    def exhausted = new IllegalStateException(
      s"min-label propagation did not converge within $maxIter iterations" +
        " — raise maxIter (component diameter exceeds the budget)")
    if (maxIter < 1) throw exhausted
    val s = und.sparkSession
    val pairs = und.select(col("u").cast("long"), col("v").cast("long"))
      .queryExecution.toRdd.map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1), "null vertex id in the edge set")
        (r.getLong(0), r.getLong(1))
      }
    // as many partitions as AQE sized the edge set into, at most the
    // session's shuffle partitions: a small graph runs few tasks a round
    val part = new HashPartitioner(math.max(1,
      math.min(s.sessionState.conf.numShufflePartitions, pairs.getNumPartitions)))
    val base = pairs.partitionBy(part).mapPartitions({ it =>
      val a = Adjacency(it)
      Iterator((a, a.firstLabels))
    }, preservesPartitioning = true).localCheckpoint()
    val adj = base.mapPartitions(_.map(_._1), preservesPartitioning = true)
    var labels = base.mapPartitions(_.map(_._2), preservesPartitioning = true)
    var lastSum = labelSum(labels) // round 1
    var converged = false
    var i = 1
    while (!converged && i < maxIter) {
      val msgs = adj.zipPartitions(labels)((a, l) => only(a).messages(only(l)))
        .partitionBy(part)
      val next = adj.zipPartitions(labels, msgs) { (a, l, m) =>
        Iterator(only(a).receive(only(l), m))
      }.localCheckpoint()
      val sum = labelSum(next)
      labels.unpersist(blocking = false)
      labels = next
      converged = sum == lastSum
      lastSum = sum
      i += 1
    }
    if (!converged) throw exhausted
    val rows = adj.zipPartitions(labels) { (a, l) =>
      val (vtx, comp) = (only(a).vtx, only(l).comp)
      Iterator.tabulate(vtx.length)(k => Row(vtx(k), comp(k)))
    }
    s.createDataFrame(rows, new StructType().add("vtx", LongType).add("comp", LongType))
  }

  /** A partition's single block. Draining the iterator releases the
    * cached block's read lock as soon as it is taken. */
  private def only[T](it: Iterator[T]): T = {
    val x = it.next()
    require(!it.hasNext, "one block per partition")
    x
  }

  private def labelSum(labels: RDD[Labels]): Long =
    labels.map { l =>
      var t = 0L
      l.comp.foreach(t += _)
      t
    }.fold(0L)(_ + _)

  /** One partition's labels, aligned with its `Adjacency.vtx`, and the
    * vertices whose label dropped in the round that produced them. */
  private final class Labels(val comp: Array[Long], val changed: java.util.BitSet)
      extends Serializable

  /** One partition's edges in CSR form: sorted distinct sources `vtx`, the
    * neighbours of `vtx(i)` at `nbr(off(i) until off(i + 1))`. */
  private final class Adjacency(val vtx: Array[Long], off: Array[Int],
      nbr: Array[Long]) extends Serializable {

    private def index(v: Long): Int = {
      val i = java.util.Arrays.binarySearch(vtx, v)
      require(i >= 0, s"vertex $v has an in-edge but no out-edge:" +
        " the edge set must hold both directions")
      i
    }

    /** Round 1: min(u, min over u's neighbours). */
    def firstLabels: Labels = {
      val comp = new Array[Long](vtx.length)
      val changed = new java.util.BitSet(vtx.length)
      var i = 0
      while (i < vtx.length) {
        var c = vtx(i)
        var j = off(i)
        while (j < off(i + 1)) { if (nbr(j) < c) c = nbr(j); j += 1 }
        comp(i) = c
        if (c < vtx(i)) changed.set(i)
        i += 1
      }
      new Labels(comp, changed)
    }

    /** The changed vertices' labels, min-combined per neighbour. */
    def messages(l: Labels): Iterator[(Long, Long)] = {
      val best = scala.collection.mutable.LongMap.empty[Long]
      var i = l.changed.nextSetBit(0)
      while (i >= 0) {
        val c = l.comp(i)
        var j = off(i)
        while (j < off(i + 1)) {
          if (c < best.getOrElse(nbr(j), Long.MaxValue)) best.update(nbr(j), c)
          j += 1
        }
        i = l.changed.nextSetBit(i + 1)
      }
      best.iterator
    }

    /** The next round's labels: the old ones lowered by the messages. */
    def receive(old: Labels, msgs: Iterator[(Long, Long)]): Labels = {
      val comp = old.comp.clone()
      val changed = new java.util.BitSet(vtx.length)
      msgs.foreach { case (v, c) =>
        val i = index(v)
        if (c < comp(i)) { comp(i) = c; changed.set(i) }
      }
      new Labels(comp, changed)
    }
  }

  private object Adjacency {
    def apply(edges: Iterator[(Long, Long)]): Adjacency = {
      val us = Array.newBuilder[Long]
      val vs = Array.newBuilder[Long]
      edges.foreach { case (u, v) => us += u; vs += v }
      val (u, v) = (us.result(), vs.result())
      val sorted = u.clone()
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
      j = 0
      while (j < u.length) {
        val i = java.util.Arrays.binarySearch(vtx, u(j))
        nbr(fill(i)) = v(j)
        fill(i) += 1
        j += 1
      }
      new Adjacency(vtx, off, nbr)
    }
  }

  /** PageRank, fixed 10 iterations, damping 0.85 — the second iterative
    * graph workload. The undirected edge set gives every vertex an
    * out-edge, so there is no dangling-mass term: PR_{t+1}(v) = 0.15/N +
    * 0.85 · Σ_{u→v} PR_t(u)/deg(u). Per-iteration `localCheckpoint`
    * truncates lineage exactly as in CC. FULLY ORACLED: a fixed iteration
    * count unrolls into 10 chained DuckDB CTEs (no recursion needed);
    * ranks rounded to 6dp because per-vertex contribution sums are
    * order-dependent float aggregates.
    */
  def pagerank(s: SparkSession, d: String, iters: Int = 10): DataFrame = {
    val e = edges(s, d).localCheckpoint(false)
    val deg = e.groupBy("u").agg(count(lit(1)).as("deg")).localCheckpoint(false)
    val n = deg.count()
    var pr = deg.select(col("u").as("vtx"), lit(1.0 / n).as("pr")).localCheckpoint(false)
    // LAZY checkpoints: each iteration's plan is truncated to a LogicalRDD
    // leaf (no Catalyst re-analysis of a growing tree) but nothing executes
    // until the final action, which runs the whole 10-round RDD chain as ONE
    // job — RDD lineage has no re-analysis cost, and a single job beats 10
    // serial checkpoint jobs (measured ~2× on the fixed-round loop).
    for (_ <- 1 to iters) {
      pr = e.join(pr, e("u") === pr("vtx"))
        .join(deg, "u")
        .select(col("v"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("v").as("vtx"))
        .agg((lit(0.15 / n) + lit(0.85) * sum(col("c"))).as("pr"))
        .localCheckpoint(false)
    }
    pr.select(col("vtx"), round(col("pr"), 6).as("pr")).orderBy("vtx")
  }

  /** Component size histogram — the usual downstream of CC. */
  def componentSizes(s: SparkSession, d: String): DataFrame =
    connectedComponents(s, d)
      .groupBy("comp").agg(count(lit(1)).as("n_vertices"))
      .orderBy("comp")

  /** Degree-based edge orientation: each undirected edge `(u, v)` (input
    * convention u < v by id, one row per edge) becomes the directed edge
    * `a → b` where `a` is the endpoint with the smaller `(degree, id)`
    * pair. The induced digraph is acyclic (edges follow a total order) and
    * every vertex's out-degree is O(sqrt(|E|)): a vertex with out-degree k
    * has k neighbors of degree ≥ its own, so deg ≥ k for all of them and
    * k² ≤ Σdeg = 2|E|. That bounds the wedge (two-out-path) count by
    * |E|·sqrt(|E|) REGARDLESS of skew — the hub of a star graph has max
    * degree, so all its edges point AT it and it generates zero wedges,
    * where id-orientation would generate C(n,2). Output columns: `a`,
    * `b`, and `bord` = `vertexOrd(deg_b, b)`, the order key joins compare
    * on — ONE primitive long, not a (deg, id) struct (r9): the order key
    * rides every wedge row through the triangle family's hottest joins,
    * so its representation is the per-wedge constant. See `vertexOrd` for
    * why the packing preserves the order where it matters.
    */
  private[graft] def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("vtx"))
      .union(und.select(col("v").as("vtx")))
      .groupBy("vtx").agg(count(lit(1)).as("deg"))
    val uo = vertexOrd(col("du"), col("u"))
    val vo = vertexOrd(col("dv"), col("v"))
    und
      .join(deg.select(col("vtx").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("vtx").as("v"), col("deg").as("dv")), "v")
      .select(
        when(uo < vo, col("u")).otherwise(col("v")).as("a"),
        when(uo < vo, col("v")).otherwise(col("u")).as("b"),
        greatest(uo, vo).as("bord"))
  }

  /** Packed single-long orientation key: `min(deg, 2^15−1) << 48 | id`.
    * Numeric order on the packed long equals lexicographic
    * (capped-deg, id) order, which is injective (id occupies the low
    * bits) — and triangle support is ORIENTATION-INVARIANT, so any fixed
    * injective vertex order enumerates the same triangle set; the degree
    * component is purely the skew bound, not a correctness input. The cap
    * costs nothing real: the sqrt-out-degree argument needs the order to
    * track degree, and vertices past 32 767 neighbors (3+ decades above
    * any measured co-order degree) fall back to id order AMONG THEMSELVES
    * only — a set of at most 2|E|/2^15 super-hubs. Ids must fit 48 bits
    * (≈2.8e14 — the fixture upscaler's key-offset scheme stays inside it
    * through sf100000); violations raise rather than mis-orient. */
  private[graft] def vertexOrd(deg: Column, id: Column): Column = {
    val packed = least(deg.cast("long"), lit((1L << 15) - 1)) * lit(1L << 48) + id
    when(id >= 0L && id < lit(1L << 48), packed)
      .otherwise(raise_error(concat(lit("vertex id out of 48-bit ord range: "),
        id.cast("string"))).cast("long"))
  }

  /** Row-count budget for the triangle family's edge-set broadcasts —
    * the knob behind `edgesFitBroadcast`. Default 5M edge rows: an
    * oriented edge is three longs (endpoints + packed order key), ~48 B
    * in a broadcast hash relation, so the default caps the relation at
    * ~240 MB — comfortably inside a production executor/driver budget
    * and far below Spark's 8 GB broadcast hard limit, while still
    * covering every measured fixture decade (sf10's co-order graph is
    * ~100× smaller). Overridable per session for probes and specs. */
  private[graft] val BroadcastEdgeLimitKey = "spark.graft.graph.broadcastEdgeLimit"
  private[graft] val BroadcastEdgeLimitDefault = 5000000L

  /** Stats-gated broadcast decision for the triangle/peel family's
    * closing-edge joins (r8 verdict #1 — the `plans/AsOfJoinStrategy`
    * two-variant precedent, lifted to the DataFrame layer where the peel
    * loops live). The former shape broadcast the edge set
    * UNCONDITIONALLY: correct through every measured decade, but a
    * data-proportional broadcast is a hard wall, not a graceful
    * degradation, at a true 100× further scale-up. Callers now pass the
    * MEASURED edge count (the peel already counts every round; the
    * one-shot callers count their checkpointed edge set once) and
    * broadcast only while it fits the budget — past it, the join is left
    * un-hinted and shuffles on its keys, the plan that survives any
    * scale. Measured rows, not Catalyst estimates: the loop re-bases
    * each round through `dropStats`, so size estimates are exactly what
    * iterative plans cannot trust. */
  private[graft] def edgesFitBroadcast(s: SparkSession, edgeCount: Long): Boolean =
    edgeCount <= s.conf.get(BroadcastEdgeLimitKey,
      BroadcastEdgeLimitDefault.toString).toLong

  /** Wedges (paths a→y, a→z with ord(y) < ord(z)) of a degree-oriented
    * edge set — the intermediate whose size degree orientation bounds.
    * Keeps the apex `a` (the triangle family needs all three corners).
    * Exposed for the skew test; `triangles` closes these with a third
    * join.
    */
  private[graft] def orientedWedges(eo: DataFrame): DataFrame =
    eo.select(col("a"), col("b").as("y"), col("bord").as("yord"))
      .join(eo.select(col("a").as("a2"), col("b").as("z"), col("bord").as("zord")),
        col("a") === col("a2") && col("yord") < col("zord"))
      .select(col("a"), col("y"), col("z"))

  /** Close each wedge with the oriented edge y→z — one row per triangle
    * (a, y, z), where the apex `a` is the triangle's (deg,id)-minimum
    * vertex, so no triangle is generated twice. Shared by `triangles`,
    * `ktruss`, `clusteringCoeff` and the orientation specs.
    * `broadcastClose = true` ships the closing edge list to every task so
    * the wedge stream never shuffles — right whenever the edge list fits
    * the broadcast budget; at edge-list scale beyond that, pass false and
    * let the closing join shuffle on (y, z). Callers decide by MEASURED
    * edge count via `edgesFitBroadcast`, never unconditionally (r9).
    */
  private[graft] def closedTriangles(eo: DataFrame,
      broadcastClose: Boolean = false): DataFrame = {
    val closing = eo.select(col("a").as("cy"), col("b").as("cz"))
    // past the broadcast budget the build side stays NARROW (two longs per
    // edge) while the probe side is the grand wedge stream — hint a
    // shuffled HASH join so neither side is sorted (r9 probe, sf10: the
    // default sort-merge spends 3× the join's own cost sorting ~1G wedge
    // rows; SHUFFLE_HASH closed in 46 s vs 131 s)
    orientedWedges(eo).join(
        if (broadcastClose) broadcast(closing)
        else closing.hint("SHUFFLE_HASH"),
        col("y") === col("cy") && col("z") === col("cz"))
      .select(col("a"), col("y"), col("z"))
  }

  /** Triangle counting over the part co-occurrence graph (parts appearing
    * together in ≥ 2 orders — the threshold keeps the projection sparse;
    * unthresholded one-mode projections of order baskets go near-complete).
    * Edges are DEGREE-ORIENTED (low (deg,id) → high) so each triangle is
    * generated exactly once — by its minimum vertex in the (deg,id) order,
    * the only one with two outgoing edges — and the two-path fan-out is
    * bounded by sqrt(|E|) per vertex even on skewed graphs (see
    * `orientByDegree`; the count is orientation-invariant, so the oracle
    * is unchanged). All join passes key on vertex ids. The degree
    * computation adds one aggregate + two key joins over the edge list —
    * the standard price of skew-robust triangle enumeration.
    */
  def triangles(s: SparkSession, d: String, minCo: Long = 2L): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minCo)
      .select("u", "v")
      .localCheckpoint(false) // e feeds degrees + 3 join sides; compute once
    // lazy-checkpoint the oriented edges too: eo feeds BOTH wedge sides and
    // the closing join — without this the degree aggregate + orientation
    // joins replan and recompute once per reference (3×, seen in explain)
    val eo = orientByDegree(e).localCheckpoint(false)
    // counting materializes the checkpoint the join passes were about to
    // pay anyway, and buys the measured-stats broadcast decision
    val tri = closedTriangles(eo,
      broadcastClose = edgesFitBroadcast(s, eo.count()))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** Multi-source BFS: hop distance from the source set (vertices with id
    * < 10) via iterative min-dist relaxation — the third Pregel-shaped
    * loop (after CC and PageRank), with frontier semantics expressed as
    * monotone relaxation: distances only decrease, vertices only appear,
    * so the (count, sum) pair is the convergence invariant (stable ⇔
    * fixpoint), one aggregate job per round. Lazy localCheckpoint per
    * iteration as in CC. Fails loudly if not converged inside maxIter —
    * the oracle (recursive CTE, dist bounded by the same budget) computes
    * the true bounded fixpoint, and silently-partial distances would
    * diverge from it. Unreached vertices are absent (not null-distance).
    * Convergence is probed only at batch boundaries (every k = 3 rounds,
    * below), and proving a fixpoint takes a whole batch that changes
    * nothing. So with a custom `maxIter` a run can throw where a
    * per-round probe would have converged inside the same budget; the
    * default 30 leaves ample room on every fixture.
    */
  def bfs(s: SparkSession, d: String, maxIter: Int = 30): DataFrame = {
    val e = edges(s, d).localCheckpoint(false)
    // r12 (guide §1.2; the dagLayers device, min-plus flavor): rounds run
    // batchK = 3 to a materialized job via weight-0 self-loop augmentation
    // — each in-plan round references the carried dist exactly ONCE
    // (min(dist+w) over eAug ≡ the union+min recurrence), so the lazy
    // plan stays a linear chain. The r11 rejection stands for DEEP
    // batches: k = 9 measured 7.4-9.4 s vs 3.4-4.0 s round-at-a-time,
    // because 2 batches execute 18 in-plan rounds against a ~7-round
    // fixpoint and per-STAGE fixed costs (~0.3-0.5 s/round at sf0.1)
    // dwarf the job-launch latency saved. k = 3 overshoots by ≤ 2 rounds
    // and measured 3.0-3.3 → 2.5-2.7 s same-JVM interleaved (r12),
    // answer-identical (monotone + idempotent; batch state (count, sum)
    // stable ⇔ fixpoint, the same probe as before). k divides maxIter, so
    // the contractual 30-round budget is never exceeded.
    val batchK = 3
    val eAug = e.select(col("u"), col("v"), lit(1).as("w"))
      .union(e.select(col("u")).distinct()
        .select(col("u"), col("u").as("v"), lit(0).as("w")))
      .localCheckpoint(false)
    var dist = e.select(col("u").as("vtx")).filter(col("vtx") < 10)
      .distinct().withColumn("dist", lit(0)).localCheckpoint(false)
    var converged = false
    var done = 0
    var last = (-1L, Long.MinValue)
    while (!converged && done < maxIter) {
      val k = math.min(batchK, maxIter - done)
      var cur = dist
      for (_ <- 1 to k) {
        cur = eAug.join(cur, eAug("u") === cur("vtx"))
          .groupBy(eAug("v").as("vtx"))
          .agg(min(cur("dist") + col("w")).as("dist"))
          .select(col("vtx"), col("dist"))
      }
      dist = dropStats(s, cur.localCheckpoint(false))
      val row = dist.agg(count(lit(1)),
        coalesce(sum(col("dist")), lit(0L))).collect()(0)
      val c = (row.getLong(0), row.getLong(1))
      converged = c == last
      last = c
      done += k
    }
    if (!converged)
      throw new IllegalStateException(
        s"BFS did not converge within $maxIter iterations — raise maxIter")
    dist.select(col("vtx"), col("dist").cast("int").as("dist")).orderBy("vtx")
  }

  /** k-core decomposition (k = 5): synchronously peel every vertex whose
    * degree is below k until fixpoint; survivors are the 5-core with their
    * within-core degree. Each round is one degree aggregate plus two
    * semi-joins — linear in surviving edges — with a lazy localCheckpoint
    * truncating lineage and the round's edge count doubling as the
    * convergence probe (peeling strictly removes edges, so equal
    * consecutive counts ⇔ fixpoint; one job per round). The fixture needs
    * 5 rounds at sf0.01, 1 at sf0.1, and peels to EMPTY at sf0.001 — all
    * three land on the oracle's 8-round unrolled fixpoint because
    * synchronous peeling is idempotent once converged.
    *
    * Scale: k-core is the standard graph-cleaning pass (strip low-degree
    * fringe before community/centrality work). Peel depth, not graph
    * size, bounds the round count; every round's shuffle shrinks.
    */
  def kcore(s: SparkSession, d: String, k: Int = 5, maxIter: Int = 30): DataFrame = {
    var e = edges(s, d).localCheckpoint(false)
    var lastCount = -1L
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val keep = e.groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("u")
      val next = e.join(keep, Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint(false)
      val c = next.count()
      converged = c == lastCount
      lastCount = c
      e = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"k-core peel did not converge within $maxIter rounds")
    e.groupBy(col("u").as("vtx")).agg(count(lit(1)).as("core_degree"))
      .orderBy("vtx")
  }

  /** Borůvka minimum spanning forest — the classic distributed-MST
    * algorithm (each component hooks its minimum incident edge, chosen
    * edges contract, repeat; components at least halve per round, so
    * O(log V) rounds regardless of graph size). Edge weights are the
    * deterministic FNV hash of the canonical (min,max) endpoint pair,
    * and ALL edge comparisons use the strict total order
    * (w, u, v) — under a total order the greedy forest is UNIQUE and
    * exactly Kruskal's result, so the output is engine- and
    * partitioning-independent even through 31-bit hash ties.
    *
    * Per round: one join of the edge set against current labels selects
    * cross-component edges (ends when none remain); a struct-min
    * aggregate picks each component's cheapest edge; and the round's
    * chosen "merge graph" — at most one edge per component, geometric
    * shrink — is contracted by POINTER DOUBLING, not generic min-label
    * propagation: with a strict total order each chosen component
    * contains exactly one mutual-minimum 2-cycle, every pointer chain
    * leads to it, so hooking 2-cycles to their min endpoint yields a
    * forest that p := p∘p collapses in O(log depth) self-joins (the
    * generic fixpoint pays one job per chain HOP — measured ~2× slower
    * end-to-end). localCheckpoint truncates lineage per round exactly as
    * in CC/pagerank. Oracled since r7: the data-dependent loop becomes a
    * FIXED-round unrolled Borůvka in DuckDB (`msfSql` — 16 rounds ≥ the
    * ⌈log2 V⌉=15 worst-case bound at sf0.1, 12 pointer squarings ≥ depth
    * 4096 per round; idempotent past convergence, and any
    * under-provisioning fails LOUD as a row mismatch, never a silent
    * pass), validated edge-for-edge against the Spark forest at
    * sf0.001/0.01/0.1. GraphMsfSpec additionally proves the edge set
    * equals a driver-side Kruskal under the identical total order at two
    * SFs.
    *
    * At 100 TB: every step is a keyed shuffle or broadcast-free
    * aggregate on (long, long, long) rows; per-round state is one label
    * per vertex and one candidate edge per component. A cluster port
    * swaps localCheckpoint for reliable checkpoints (pagerank note). */
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
  private def dropStats(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(df.rdd, df.schema)

  /** Driver budget for Borůvka's per-round merge-graph contraction — the
    * `dedupClusters` localCap sibling. Fixture merge graphs are thousands
    * of rows; a true cluster-scale first round falls back to the
    * distributed pointer doubling. Cost arithmetic (r12, honest version
    * of the r11 "raw longs" undersell): the collect materializes one
    * specialized (Long, Long) tuple per row (~48 B with header + array
    * slot) plus two boxed-key HashMaps in the walk (~100 B/entry), so the
    * 1M cap budgets ~150 MB of transient driver heap — comfortable in
    * the 16 GB driver, and the hybrid's flip point stays far above every
    * fixture merge graph (geometric shrink makes later cluster-scale
    * rounds driver-sized exactly as before). */
  private val MsfMergeLocalCap = 1000000

  def boruvkaMsf(s: SparkSession, d: String, maxRounds: Int = 20): DataFrame = {
    val und = edges(s, d)
    val us = least(col("u"), col("v"))
    val vs = greatest(col("u"), col("v"))
    val e = und.filter(col("u") < col("v"))
      .select(col("u").as("eu"), col("v").as("ev"),
        Fnv1a64.ihash31(concat(us.cast("string"), lit("|"),
          vs.cast("string"))).as("w"))
      .localCheckpoint(false)
    var labels = und.select(col("u").as("vtx")).distinct()
      .withColumn("comp", col("vtx")).localCheckpoint(false)
    var forest: DataFrame = e.filter(lit(false))
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val lu = labels.select(col("vtx").as("eu"), col("comp").as("cu"))
      val lv = labels.select(col("vtx").as("ev"), col("comp").as("cv"))
      val cross = e.join(lu, "eu").join(lv, "ev")
        .filter(col("cu") =!= col("cv"))
        .localCheckpoint(false)
      if (cross.isEmpty) { done = true }
      else {
        // each side nominates the edge for its component; struct min is
        // the lexicographic (w, eu, ev) total order
        val pick = struct(col("w"), col("eu"), col("ev"), col("other"))
        val minE = cross
          .select(col("cu").as("c"), col("w"), col("eu"), col("ev"),
            col("cv").as("other"))
          .union(cross.select(col("cv").as("c"), col("w"), col("eu"),
            col("ev"), col("cu").as("other")))
          .groupBy("c").agg(min(pick).as("p"))
          .select(col("c"), col("p.w").as("w"), col("p.eu").as("eu"),
            col("p.ev").as("ev"), col("p.other").as("other"))
          .localCheckpoint(false)
        forest = forest.union(
          minE.select(col("eu"), col("ev"), col("w")).distinct())
        // contract the round's merge graph. The merge graph has AT MOST
        // one chosen edge per active component and shrinks geometrically
        // round over round — it is component-sized, never corpus-sized.
        //
        // r11 (guide §1.2; the dedupClusters hybrid device): when it fits
        // the driver budget, the contraction runs as a LOCAL pointer walk
        // in one collect instead of the distributed mutual-min semi-join
        // plus O(log chain-depth) pointer-squaring jobs — measured at
        // sf0.1 the squaring loop alone was ~3 driver-sequential jobs per
        // Borůvka round of a few hundred rows each. Semantics are the
        // doubling loop's EXACTLY: hook each component to its chosen
        // neighbor, the unique mutual-min 2-cycle per merge tree (strict
        // total order guarantees it) canonicalizes to its min endpoint,
        // every chain resolves to that root (memoized walk below ≡ the
        // squaring fixpoint). Past the cap — merge graphs at true cluster
        // scale — the distributed doubling runs unchanged.
        val ptr0 = minE.select(col("c"), col("other"))
        // collect as specialized long tuples, not Rows (r12, guide §5 /
        // VERDICT: a 2M-Row collect was ~5-10× the comment's "raw longs"
        // arithmetic; the typed encoder path drops the Row object + field
        // array per element)
        val local: Array[(Long, Long)] = {
          import s.implicits._
          ptr0.as[(Long, Long)].limit(MsfMergeLocalCap + 1).collect()
        }
        if (local.length <= MsfMergeLocalCap) {
          val other = new java.util.HashMap[Long, Long](local.length * 2)
          local.foreach(r => other.put(r._1, r._2))
          val root = new java.util.HashMap[Long, Long](local.length * 2)
          def find(c: Long): Long = {
            var x = c
            val path = scala.collection.mutable.ArrayBuffer.empty[Long]
            var r = Long.MinValue
            // step cap (r12 ADVICE): the walk terminates because every
            // pointer cycle is a mutual-min 2-cycle under the strict
            // (w, eu, ev) total order; if a future edit broke that
            // invariant the loop would spin the driver forever — fail
            // loud instead (a chain can visit each component at most once)
            var steps = 0
            while (r == Long.MinValue) {
              steps += 1
              if (steps > local.length + 1)
                throw new IllegalStateException(
                  s"msf contraction walk exceeded ${local.length + 1} steps " +
                    "from component " + c + ": mutual-min 2-cycle invariant broken")
              if (root.containsKey(x)) r = root.get(x)
              else {
                // every chain node's pointer is defined (each component
                // incident to a cross edge elects an edge; `other` is that
                // neighbor) — the defaults only harden against a logic bug,
                // turning it into a self-root instead of an NPE
                val o = other.getOrDefault(x, x)
                if (o == x || other.getOrDefault(o, Long.MinValue) == x)
                  r = math.min(x, o) // the mutual-min 2-cycle
                else { path += x; x = o }
              }
            }
            path.foreach(n => root.put(n, r))
            root.put(x, r)
            r
          }
          import s.implicits._
          val mapping = local.map(r => (r._1, find(r._1))).toSeq
            .toDF("comp", "newc")
          labels = dropStats(s, labels
            .join(broadcast(mapping), Seq("comp"), "left")
            .select(col("vtx"), coalesce(col("newc"), col("comp")).as("comp"))
            .localCheckpoint(false))
        } else {
          val mutual = ptr0.as("a")
            .join(ptr0.as("b"),
              col("a.other") === col("b.c") && col("b.other") === col("a.c"),
              "left_semi")
            .select(col("c"), least(col("c"), col("other")).as("p"))
          var p = ptr0.join(mutual.select(col("c"), col("p")), Seq("c"), "left")
            .select(col("c"), coalesce(col("p"), col("other")).as("p"))
            .localCheckpoint(false)
          // squaring is idempotent exactly when every pointer is a root, so
          // the per-row "did p move" flag is summed in the SAME job that
          // materializes the checkpoint (pointer values are not monotone
          // under doubling — a sum-of-labels invariant would be unsound)
          var stable = false
          while (!stable) {
            val next = p.as("x")
              .join(p.select(col("c").as("pc"), col("p").as("pp")),
                col("x.p") === col("pc"), "left")
              .select(col("x.c").as("c"),
                coalesce(col("pp"), col("x.p")).as("p"),
                (col("pp").isNotNull && col("pp") =!= col("x.p"))
                  .cast("long").as("chg"))
              .localCheckpoint(false)
            val changed = next.agg(coalesce(
              org.apache.spark.sql.functions.sum("chg"), lit(0L)))
              .collect()(0).getLong(0)
            p = next.select(col("c"), col("p"))
            stable = changed == 0L
          }
          labels = dropStats(s, labels
            .join(p.select(col("c").as("comp"), col("p").as("newc")),
              Seq("comp"), "left")
            .select(col("vtx"), coalesce(col("newc"), col("comp")).as("comp"))
            .localCheckpoint(false))
        }
      }
      rounds += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"Boruvka did not finish within $maxRounds rounds")
    forest.select(col("eu").as("u"), col("ev").as("v"), col("w"))
      .orderBy("u", "v")
  }

  /** Weighted multi-source shortest paths by Bellman-Ford relaxation —
    * the weighted sibling of `graph_bfs` (whose unit-hop BFS cannot see
    * that a longer-hop lighter path wins). Edge weights are the
    * deterministic FNV hash of the canonical endpoint pair in [1,1000];
    * sources are the same vtx<10 seed set bfs uses. The semantics are
    * DEFINED as exactly `rounds` relaxations on BOTH engines (the oracle
    * unrolls the identical rounds as chained CTEs, the pagerank device),
    * so the gate never depends on a convergence argument — and the spec
    * separately proves round rounds+1 changes nothing at two SFs, i.e.
    * the fixture answer IS the true fixpoint. Fixed rounds mean ONE job:
    * per-round lazy checkpoints truncate lineage and `dropStats` blocks
    * the compounding-statistics trap (see boruvkaMsf). Scale: each round
    * is one keyed shuffle join + min-aggregate over (long, long) rows;
    * state is one distance per reached vertex. */
  def ssspBellmanFord(s: SparkSession, d: String, rounds: Int = 20): DataFrame = {
    val und = edges(s, d)
    val w = Fnv1a64.ihash31(concat(least(col("u"), col("v")).cast("string"),
      lit("|"), greatest(col("u"), col("v")).cast("string"))) % 1000L + 1L
    val e = und.select(col("u"), col("v"), w.as("w")).localCheckpoint(false)
    // r12 (guide §1.2; the dagLayers device, min-plus flavor): relaxation
    // rounds run batchK = 5 to a materialized job via weight-0 self-loop
    // augmentation — min(dist + w) over eAug references the carried dist
    // exactly ONCE per in-plan round, which IS the union+min recurrence
    // (self-loop carries each reached vertex's current dist; in-edges
    // contribute relaxations), so the lazy plan is a linear chain, never
    // the 2^k unroll. Measured same-JVM interleaved at sf0.1 (r12):
    // 5.9-7.3 s round-at-a-time → 4.4-5.0 s batched, identical 18 008-row
    // output. The fixture fixpoint lands at round 15 of the 20-round
    // budget, so k = 5 overshoots by at most one batch; k divides the
    // budget, so a non-converged run still executes exactly `rounds`.
    val batchK = 5
    val eAug = e.union(e.select(col("u")).distinct()
        .select(col("u"), col("u").as("v"), lit(0L).as("w")))
      .localCheckpoint(false)
    var dist = e.select(col("u").as("vtx")).distinct()
      .filter(col("vtx") < 10).withColumn("dist", lit(0L))
      .localCheckpoint(false)
    // Fixpoint short-circuit under the fixed-rounds contract: the reached
    // set only GROWS and distances only DECREASE, so an unchanged
    // (count, sum) pair means the batch was a no-op — and relaxation is
    // deterministic, so every later contractual round repeats verbatim.
    // The skipped rounds' outputs are replayed by doing nothing; the
    // result is bit-identical to the 20-round definition the oracle
    // unrolls. The per-batch aggregate also materializes each lazy
    // checkpoint (the anti-stack-overflow guard).
    var lastState = (-1L, Long.MinValue)
    var converged = false
    var done = 0
    while (!converged && done < rounds) {
      val k = math.min(batchK, rounds - done)
      var cur = dist
      for (_ <- 1 to k) {
        cur = eAug.join(cur, eAug("u") === cur("vtx"))
          .groupBy(eAug("v").as("vtx"))
          .agg(min(cur("dist") + col("w")).as("dist"))
          .select(col("vtx"), col("dist"))
      }
      dist = dropStats(s, cur.localCheckpoint(false))
      val row = dist.agg(count(lit(1)),
        coalesce(sum(col("dist")), lit(0L))).collect()(0)
      val cr = (row.getLong(0), row.getLong(1))
      converged = cr == lastState
      lastState = cr
      done += k
    }
    dist.orderBy("vtx")
  }

  /** Dense co-purchase graph: distinct part pairs sharing an even-keyed
    * order (u < v canonical; the even-order slice keeps every co-order
    * clique intact while bounding triangle volume). Shared by the
    * triangle-family queries (ktruss, clustering coefficient). */
  private def coOrderEdges(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 2 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
  }

  private val coOrderEdgesSql =
    """SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  WHERE a.l_orderkey % 2 = 0""".stripMargin

  /** k-truss synchronous peel over the dense co-order part graph
    * (`coOrderEdges`): each round recounts every edge's triangle support —
    * wedges enumerate from the degree-ordered ORIENTATION (once per
    * triangle, at its min-(deg,id) apex), close against the shrinking
    * edge set (broadcast while the measured count fits the
    * `edgesFitBroadcast` budget, shuffled past it), and each triangle
    * credits its three edges — then edges with support < k−2 drop. The semantics are DEFINED as
    * exactly `rounds` synchronous rounds on both engines (the fixture
    * needs ~25 rounds to converge at k=8/sf0.01, so the 8-round output is
    * the peel-progress curve, not a fixpoint claim — the honest bounded
    * contract, same device as graph_sssp). Output is the decision-sized
    * curve (round, n_edges). k ≥ 3 is required: the credit path has no
    * row for a zero-support edge, so the vacuous k ≤ 2 thresholds (which
    * should keep every edge) are inexpressible here. Scale: support state
    * is one long per live edge; per-round lazy checkpoints + dropStats
    * block the compounding-statistics trap (see boruvkaMsf). */
  def ktruss(s: SparkSession, d: String, k: Int = 8, rounds: Int = 8): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3 (zero-support edges drop), got $k")
    import s.implicits._
    // Orientation is computed ONCE, from the initial degrees (r8, verdict
    // #1): an edge's triangle support is orientation-INVARIANT (it counts
    // triangles containing the edge), and once-per-triangle enumeration
    // only needs SOME fixed injective vertex order — the initial (deg,id)
    // order stays a total order on every surviving subset.
    //
    // SINGLE-LONG EDGES (r9): this query's output is only the per-round
    // edge-count curve — vertex identity never reaches the result — so
    // vertices are densely re-ranked (0..V−1) along the SAME
    // (capped-deg, id) total order `vertexOrd` defines, and every edge
    // lives as ONE primitive long (rank_a << 32 | rank_b, rank_a <
    // rank_b). The per-round hot path (the wedge stream, millions of rows
    // per surviving triangle) then explodes a primitive long array
    // instead of three-field structs and aggregates on a single long key
    // — the WordGramFnv fused-primitive discipline applied to the
    // registry's largest measured constant (sf10 wedge volume). The rank
    // remap is two one-time joins; the orientation rank IS the order key,
    // so no round carries (or re-derives) a separate bord column.
    // the co-order projection (self-join + distinct over lineitem) is BY
    // FAR the query's most expensive subtree and three derived actions
    // consume it (the degree count, the rank build, the edge remap) —
    // checkpoint it once so it is evaluated once (sf10 probe: setup fell
    // from ~466 s of repeated co-order evaluations to one)
    val und = coOrderEdges(s, d).localCheckpoint(false)
    val deg = und.select(col("u").as("vtx"))
      .union(und.select(col("v").as("vtx")))
      .groupBy("vtx").agg(count(lit(1)).as("deg"))
    val nV = deg.count()
    require(nV < Int.MaxValue, s"rank packing needs < 2^31 vertices, got $nV")
    // dense rank along the injective vertexOrd order: orderBy + a
    // distributed zipWithIndex (partition-parallel; index order follows
    // the range-partitioned sort order)
    val ranked = deg.select(col("vtx"), vertexOrd(col("deg"), col("vtx")).as("ord"))
      .orderBy("ord").select("vtx").rdd
      .zipWithIndex.map { case (r, i) => (r.getLong(0), i) }
      .toDF("vtx", "rank")
    val rfit = edgesFitBroadcast(s, nV)
    def rside(df: DataFrame): DataFrame = if (rfit) broadcast(df) else df
    var cur = und
      .join(rside(ranked.select(col("vtx").as("u"), col("rank").as("ru"))), "u")
      .join(rside(ranked.select(col("vtx").as("v"), col("rank").as("rv"))), "v")
      .select((shiftleft(least(col("ru"), col("rv")), 32) +
        greatest(col("ru"), col("rv"))).as("pk"))
      .localCheckpoint(false)
    // measured edge count drives the per-round broadcast gate below; the
    // up-front count just materializes the checkpoint round 1 was about
    // to pay, so the measurement is free
    var nCur = cur.count()
    // eager per-round counts buy the fixpoint short-circuit: the peel is
    // MONOTONE (e_r ⊆ e_{r-1}), so equal consecutive counts ⇒ equal edge
    // sets ⇒ every later round repeats verbatim — at sf0.1 the fixture
    // converges in 2 of the 8 contractual rounds, so 6 wedge enumerations
    // are replaced by replaying the converged count (semantics unchanged:
    // the output IS the fixed-8-round curve either way)
    val counts = scala.collection.mutable.Buffer.empty[Long]
    var prev = -1L
    var converged = false
    for (_ <- 1 to rounds) {
      if (converged) counts += prev
      else {
        // wedge side 2 AND the closing edge set broadcast ONLY while the
        // measured edge count fits the budget (edgesFitBroadcast — the
        // peel's shrinking sets always do at fixture decades, so the
        // whole round runs map-side off one scan of cur until the single
        // support shuffle); past the budget the hints are dropped and
        // the joins shuffle on their keys (a, then wpk) as HASH joins —
        // the build sides stay narrow packed longs while the probe side
        // is the grand wedge stream, so a sort-merge join's probe-side
        // sort is pure waste (sf10 probe: SMJ 131 s vs SHJ 46 s on the
        // closing join) — the plan that degrades instead of OOMing at a
        // 100× scale-up.
        // A wedge (a→y, a→z, y<z in rank order) closed by edge y→z
        // credits its three edges as PACKED LONGS — (a,y), (a,z), (y,z)
        // are already low→high in the fixed rank order, so each credit
        // is one shift+or and the support aggregate keys on a single
        // primitive long.
        val fit = edgesFitBroadcast(s, nCur)
        def side(df: DataFrame): DataFrame =
          if (fit) broadcast(df) else df.hint("SHUFFLE_HASH")
        val e = cur.select(shiftright(col("pk"), 32).as("a"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("b"))
        val credits = e.select(col("a"), col("b").as("y"))
          .join(side(e.select(col("a").as("a2"), col("b").as("z"))),
            col("a") === col("a2") && col("y") < col("z"))
          .select(col("a"), col("y"), col("z"),
            (shiftleft(col("y"), 32) + col("z")).as("wpk"))
          .join(side(cur.select(col("pk").as("wpk"))), "wpk")
          .select(explode(array(
            shiftleft(col("a"), 32) + col("y"),
            shiftleft(col("a"), 32) + col("z"),
            col("wpk"))).as("pk"))
        val sup = credits.groupBy("pk").agg(count(lit(1)).as("s"))
        cur = dropStats(s, sup.filter(col("s") >= k - 2)
          .select("pk").localCheckpoint(false))
        val n = cur.count()
        converged = n == prev
        prev = n
        nCur = n
        counts += n
      }
    }
    counts.toSeq.zipWithIndex
      .map { case (n, i) => (i + 1, n) }
      .toDF("round", "n_edges")
      .orderBy("round")
  }

  /** DAG critical-path layering (topological depth): the id-oriented
    * co-occurrence graph (u < v — acyclic by construction) layered by
    * LONGEST path from any source, the quantity a scheduler calls the
    * critical path and a lineage engine calls stage depth. Max-plus
    * relaxation with the fixed-round contract (45 rounds ≥ the 40-deep
    * sf0.001 fixture; the spec proves round 46 changes nothing, and the
    * relaxation is monotone non-decreasing so extra rounds are
    * idempotent). All-lazy checkpoints — one job for 45 rounds (the
    * pagerank device) — with dropStats against the compounding-stats
    * trap. Output is the decision-sized layer histogram. Scale: each
    * round one keyed join + max-aggregate over (long, int) rows.
    */
  def dagLayers(s: SparkSession, d: String, rounds: Int = 45): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= 2).select("u", "v")
      .localCheckpoint(false)
    var layer = e.select(col("u").as("vtx")).union(e.select(col("v").as("vtx")))
      .distinct().withColumn("layer", lit(0)).localCheckpoint(false)
    // Eager convergence via the sum invariant (the minLabelPropagation
    // device, flipped for max-plus: layers only ever INCREASE, so equal
    // consecutive sums ⇔ fixpoint, and every later contractual round
    // repeats verbatim — the ktruss short-circuit). r11 (guide §1.2/§2.6):
    // rounds run UNROLLED IN BATCHES of 9 relaxations per materialized
    // job — the per-round driver latency (job launch + checkpoint + a
    // separate convergence action, ~0.2 s each on this host) dominated
    // the measured 10.6 s wall at sf0.1, where the data work of all
    // rounds together is ~2 s. To unroll without materializing, each
    // round must reference the previous layer table exactly ONCE (a
    // `union(cur, join(e, cur))` shape doubles the lazy plan per round —
    // 2^9 recomputation, measured 4-7× SLOWER than round-at-a-time), so
    // the carry-forward is folded into the join itself: the edge list is
    // augmented with weight-0 self-loops over the vertex set and a round
    // becomes one join + one max-aggregate of layer + w. Batch size 9
    // keeps the lazy in-plan chain under pagerank's proven 10-round
    // task-binary depth (45 all-lazy rounds overflow the executor stack
    // at task DEserialization). Answer unchanged: max-plus relaxation
    // with self-loops is the union+max recurrence verbatim, monotone and
    // idempotent; the total in-plan round budget is exactly `rounds`,
    // and overshoot within a converged batch replays the fixpoint.
    val eAug = e.select(col("u"), col("v"), lit(1).as("w"))
      .union(layer.select(col("vtx").as("u"), col("vtx").as("v"), lit(0).as("w")))
      .localCheckpoint(false)
    val batch = 9
    var lastSum = -1L
    var converged = false
    var done = 0
    while (done < rounds && !converged) {
      val k = math.min(batch, rounds - done)
      var cur = layer
      for (_ <- 1 to k) {
        cur = eAug.join(cur, eAug("u") === cur("vtx"))
          .groupBy(eAug("v").as("vtx"))
          .agg(max(cur("layer") + col("w")).as("layer"))
          .select(col("vtx"), col("layer"))
      }
      layer = dropStats(s, cur.localCheckpoint(false))
      val sm = layer.agg(coalesce(sum(col("layer")), lit(0L)))
        .collect()(0).getLong(0)
      converged = sm == lastSum
      lastSum = sm
      done += k
    }
    layer.groupBy("layer").agg(count(lit(1)).as("n_vertices")).orderBy("layer")
  }

  private def dagLayersSql(rounds: Int): String = {
    val iter = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT vtx, CAST(max(layer) AS INT) AS layer FROM (
         |    SELECT vtx, layer FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.v AS vtx, r.layer + 1 FROM e JOIN l${i - 1} r ON e.u = r.vtx)
         |  GROUP BY vtx)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |l0 AS (SELECT DISTINCT x AS vtx, CAST(0 AS INT) AS layer FROM
       |         (SELECT u AS x FROM e UNION SELECT v FROM e)),
       |$iter
       |SELECT layer, CAST(count(*) AS BIGINT) AS n_vertices
       |FROM l$rounds GROUP BY layer ORDER BY layer""".stripMargin
  }

  /** HITS hubs & authorities over the directed bipartite part→supplier
    * graph (parts are hubs, suppliers authorities — the natural reading
    * of "a good part is stocked by good suppliers and vice versa").
    * Fixed 8 mutual-reinforcement rounds, made INTEGER-EXACT end to end:
    * scores live as micro-units (initial hub = 1e6), each half-round is
    * one BIGINT sum over the edge join (order-independent — no float
    * accumulation anywhere), and renormalization divides by the round's
    * max (an order-independent aggregate) BEFORE scaling back up to
    * micro-units — the quotient is in [0,1], so no intermediate ever
    * leaves the double-exact integer range — then micro-rounds to BIGINT. Both engines therefore run the identical integer recurrence;
    * the only doubles are the final /1e6 display columns. The same
    * unrolled-CTE oracle device as pagerank, without pagerank's
    * tolerated float-sum rounding. Scale: per round two keyed
    * aggregates over the edge list + two 1-row max scalars broadcast
    * back; per-round lazy checkpoints + dropStats as in the other
    * iterative loops. */
  def hits(s: SparkSession, d: String, rounds: Int = 8): DataFrame = {
    val e = edges(s, d).filter(col("u") < 1000000L) // directed part→supplier
      .select(col("u").as("p"), col("v").as("sv")).localCheckpoint(false)
    var hub = e.select(col("p")).distinct()
      .withColumn("h", lit(1000000L)).localCheckpoint(false)
    var auth: DataFrame = null
    // r11 note (measured, guide §1.1): checkpointing the half-round
    // join-aggregates so the 1-row max's broadcast build and the
    // renormalization chain share one evaluation was tried and REJECTED —
    // the added materialization jobs cancel the halved compute at this
    // scale (warm sf0.1, normalized against an untouched control: a wash).
    //
    // r12 (guide §1.2): each half-round's crossJoin(broadcast(max)) forces
    // a BroadcastExchange SUB-JOB — 16 of them per query, ~0.3 s apiece at
    // sf0.1 where the score tables are tiny. Under the footer-stats row
    // gate (TwoPass.smallInput on BOTH endpoint dimensions — hub scores
    // are part-keyed, auth scores supplier-keyed, so either can be
    // row-scale at warehouse volume) the same max rides an unpartitioned
    // window over the half-round aggregate instead: identical values
    // (same long max, same double division — A/B'd row-identical), no
    // sub-job, and the bounded-input condition is exactly the verdict's
    // "small aggregate" exception. Past the gate the broadcast form stays
    // — a window over a row-scale score table would be the single-
    // partition sort TwoPass exists to avoid. Measured same-JVM
    // interleaved at sf0.1: 6.1-11.7 → 5.0-7.2 s.
    val smallDims = TwoPass.smallInput(s, Tables.rowCount(s, d, "part")) &&
      TwoPass.smallInput(s, Tables.rowCount(s, d, "supplier"))
    val wAll = Window.partitionBy()
    def renorm(raw: DataFrame, key: String, v: String, mx: String): DataFrame =
      if (smallDims)
        raw.withColumn(mx, max(col(v)).over(wAll))
          .select(col(key), round(col(v) / col(mx) * 1000000.0).cast("long").as(v))
      else
        raw.crossJoin(broadcast(raw.agg(max(col(v)).as(mx))))
          .select(col(key), round(col(v) / col(mx) * 1000000.0).cast("long").as(v))
    for (_ <- 1 to rounds) {
      val aRaw = e.join(hub, "p").groupBy("sv").agg(sum(col("h")).as("a"))
      auth = dropStats(s, renorm(aRaw, "sv", "a", "am").localCheckpoint(false))
      val hRaw = e.join(auth, "sv").groupBy("p").agg(sum(col("a")).as("h"))
      hub = dropStats(s, renorm(hRaw, "p", "h", "hm").localCheckpoint(false))
    }
    hub.select(col("p").as("vtx"), lit("hub").as("kind"),
        round(col("h") / 1000000.0, 6).as("score"))
      .union(auth.select(col("sv").as("vtx"), lit("auth").as("kind"),
        round(col("a") / 1000000.0, 6).as("score")))
      .orderBy("kind", "vtx")
  }

  private def hitsSql(rounds: Int): String = {
    val iter = (1 to rounds).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.sv, CAST(sum(h.h) AS BIGINT) AS a
         |  FROM e JOIN h${i - 1} h ON e.p = h.p GROUP BY e.sv),
         |a$i AS MATERIALIZED (
         |  SELECT sv, CAST(round(a / CAST((SELECT max(a) FROM ar$i) AS DOUBLE)
         |    * 1000000.0) AS BIGINT) AS a FROM ar$i),
         |hr$i AS MATERIALIZED (
         |  SELECT e.p, CAST(sum(a.a) AS BIGINT) AS h
         |  FROM e JOIN a$i a ON e.sv = a.sv GROUP BY e.p),
         |h$i AS MATERIALIZED (
         |  SELECT p, CAST(round(h / CAST((SELECT max(h) FROM hr$i) AS DOUBLE)
         |    * 1000000.0) AS BIGINT) AS h FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS MATERIALIZED ($undirectedSql),
       |e AS MATERIALIZED (
       |  SELECT u AS p, v AS sv FROM und WHERE u < 1000000),
       |h0 AS (SELECT DISTINCT p, CAST(1000000 AS BIGINT) AS h FROM e),
       |$iter
       |SELECT p AS vtx, 'hub' AS kind, round(h / 1000000.0, 6) AS score
       |FROM h$rounds
       |UNION ALL
       |SELECT sv AS vtx, 'auth' AS kind, round(a / 1000000.0, 6) AS score
       |FROM a$rounds
       |ORDER BY kind, vtx""".stripMargin
  }

  /** Local clustering coefficient per vertex of the co-purchase graph:
    * coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) — how close v's
    * neighborhood is to a clique. One oriented-triangle pass (each
    * triangle credits its three corners), one degree aggregate, one
    * broadcast-sized join; the division is exact-integer-derived, so the
    * rounded double matches DuckDB bit-for-bit. Scale: same bounded-wedge
    * shape as graph_ktruss, but a single pass — no rounds. */
  def clusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val e = coOrderEdges(s, d).localCheckpoint(false)
    val deg = e.select(col("u").as("vtx")).union(e.select(col("v").as("vtx")))
      .groupBy("vtx").agg(count(lit(1)).as("deg"))
    val eo = orientByDegree(e).localCheckpoint(false)
    val tv = closedTriangles(eo,
        broadcastClose = edgesFitBroadcast(s, eo.count()))
      .select(explode(array(col("a"), col("y"), col("z"))).as("vtx"))
      .groupBy("vtx").agg(count(lit(1)).as("tri"))
    deg.join(tv, Seq("vtx"), "left")
      .select(col("vtx"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("coeff",
        when(col("deg") >= 2,
          round(col("tri") * 2.0 / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)))
      .orderBy("vtx")
  }

  /** Per-vertex triangle credits stream through ONE evaluation of the
    * wedge-closing join via UNNEST of the three corners (r10): the former
    * shape MATERIALIZED the full 83M-row triangle set at sf10 and read it
    * three times (one UNION branch per corner), which blew the 600 s solo
    * budget; unnesting inside the same pipeline keeps the join's output
    * un-materialized and the aggregate single-pass. */
  private val clusteringSql =
    s"""WITH e AS MATERIALIZED (
       |  $coOrderEdgesSql),
       |und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
       |deg AS (SELECT a AS vtx, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY a),
       |tv AS (SELECT corner AS vtx, CAST(count(*) AS BIGINT) AS tri FROM (
       |         SELECT unnest([e1.u, e1.v, e2.v]) AS corner
       |         FROM e e1 JOIN e e2 ON e1.v = e2.u
       |         JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v)
       |       GROUP BY corner)
       |SELECT d.vtx, d.deg, coalesce(t.tri, 0) AS tri,
       |       CASE WHEN d.deg >= 2
       |            THEN round(CAST(2 * coalesce(t.tri, 0) AS DOUBLE)
       |                       / (d.deg * (d.deg - 1)), 6)
       |            ELSE 0.0 END AS coeff
       |FROM deg d LEFT JOIN tv t ON t.vtx = d.vtx
       |ORDER BY d.vtx""".stripMargin

  private def ktrussSql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { i =>
      s"""u$i AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM e${i - 1}
         |  UNION ALL SELECT v, u FROM e${i - 1}),
         |e$i AS MATERIALIZED (
         |  SELECT s.u, s.v FROM (
         |    SELECT e.u, e.v, count(*) AS s
         |    FROM u$i w1 JOIN u$i w2 ON w1.a = w2.a AND w1.b < w2.b
         |    JOIN e${i - 1} e ON e.u = w1.b AND e.v = w2.b
         |    GROUP BY e.u, e.v) s
         |  WHERE s.s >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    val counts = (1 to rounds).map(i =>
      s"SELECT $i AS round, CAST(count(*) AS BIGINT) AS n_edges FROM e$i")
      .mkString("\nUNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
       |  $coOrderEdgesSql),
       |$peels
       |SELECT round, n_edges FROM ($counts) ORDER BY round""".stripMargin
  }

  /** Borůvka unrolled to a fixed round count in the kcore/ktruss/sssp
    * MATERIALIZED-CTE style (inlining would expand the plan
    * exponentially). Per round: cross-component edge selection under the
    * previous labels, per-component struct-min election over the
    * (w, eu, ev) total order (DuckDB structs compare lexicographically),
    * forest accumulation by UNION, then contraction as FIXED-count
    * pointer squaring — mutual-min 2-cycles hook to their min endpoint,
    * `squarings` self-joins collapse chains up to depth 2^squarings.
    * Rounds/squarings are over-provisioned vs the theoretical bounds
    * (components at least halve per round ⇒ ⌈log2 V⌉ rounds); past
    * convergence every round is idempotent (empty cross ⇒ forest and
    * labels carry), and an under-provisioned unroll loses forest edges —
    * a LOUD row mismatch, never a false pass. */
  private def msfSql(rounds: Int, squarings: Int): String = {
    val w = OracleSql.fnvIhash31(
      "CAST(least(u, v) AS VARCHAR) || '|' || CAST(greatest(u, v) AS VARCHAR)")
    val base = Seq(
      s"""e AS MATERIALIZED (
         |  SELECT u AS eu, v AS ev, CAST($w AS BIGINT) AS w
         |  FROM (SELECT DISTINCT l_partkey AS u, l_suppkey + 1000000 AS v
         |        FROM lineitem WHERE l_partkey % 10 = l_suppkey % 10))""".stripMargin,
      """l0 AS MATERIALIZED (
        |  SELECT DISTINCT x AS vtx, x AS comp
        |  FROM (SELECT eu AS x FROM e UNION SELECT ev FROM e))""".stripMargin,
      "f0 AS MATERIALIZED (SELECT eu, ev, w FROM e WHERE false)")
    val perRound = (1 to rounds).flatMap { i =>
      val p = i - 1
      val squares = (1 to squarings).map { s =>
        s"""p${i}_$s AS MATERIALIZED (
           |  SELECT x.c, coalesce(y.p, x.p) AS p
           |  FROM p${i}_${s - 1} x LEFT JOIN p${i}_${s - 1} y ON x.p = y.c)""".stripMargin
      }
      // cross-edge monotonicity (r10): components only MERGE, so an edge
      // whose endpoints share a component never crosses again — cross$i can
      // relabel the PREVIOUS round's (shrinking) cross set instead of the
      // full weighted edge list, leaving `e` referenced exactly once
      // (cross1, where l0 labels are the identity so the join is a no-op).
      // That matters at scale: DuckDB 1.0 re-evaluates a lambda-bearing
      // MATERIALIZED CTE per reference (the ssspSql cliff), and e carries
      // the per-char FNV lambda (~30 s/eval at sf10 × 17 references).
      val crossCte =
        if (i == 1)
          // eu <> ev preserves the generic relabel's lu.comp <> lv.comp
          // under the round-1 identity labels: a self-loop edge must not
          // win a min election (the Spark side excludes it via u < v)
          """cross1 AS MATERIALIZED (
            |  SELECT eu, ev, w, eu AS cu, ev AS cv FROM e WHERE eu <> ev)""".stripMargin
        else
          s"""cross$i AS MATERIALIZED (
             |  SELECT ce.eu, ce.ev, ce.w, lu.comp AS cu, lv.comp AS cv
             |  FROM cross$p ce JOIN l$p lu ON lu.vtx = ce.eu
             |  JOIN l$p lv ON lv.vtx = ce.ev
             |  WHERE lu.comp <> lv.comp)""".stripMargin
      Seq(
        crossCte,
        // struct-min replaced by the q_minmax_by string-packed composite
        // (r10): DuckDB 1.0's min(STRUCT) aggregate ran >500 s on the
        // 11.8M-row round-1 election at sf10 where the zero-padded
        // fixed-width string min runs in 2 s. Lexicographic order on the
        // padded concatenation equals the numeric (w, eu, ev, other)
        // order (all parts non-negative; w < 2^31 → ≤10 digits, ids ≤16
        // digits through sf100's key offsets); lpad silently TRUNCATES
        // past the width, so the CASE guard errors loudly instead.
        s"""mine$i AS MATERIALIZED (
           |  SELECT c,
           |         CAST(substr(p, 1, 10) AS BIGINT) AS w,
           |         CAST(substr(p, 11, 16) AS BIGINT) AS eu,
           |         CAST(substr(p, 27, 16) AS BIGINT) AS ev,
           |         CAST(substr(p, 43, 16) AS BIGINT) AS other FROM (
           |    SELECT c, min(CASE WHEN length(CAST(w AS VARCHAR)) <= 10
           |                        AND length(CAST(eu AS VARCHAR)) <= 16
           |                        AND length(CAST(ev AS VARCHAR)) <= 16
           |                        AND length(CAST(other AS VARCHAR)) <= 16
           |                   THEN lpad(CAST(w AS VARCHAR), 10, '0') ||
           |                        lpad(CAST(eu AS VARCHAR), 16, '0') ||
           |                        lpad(CAST(ev AS VARCHAR), 16, '0') ||
           |                        lpad(CAST(other AS VARCHAR), 16, '0')
           |                   ELSE error('msf packed-key overflow: widen the lpad widths')
           |              END) AS p FROM (
           |      SELECT cu AS c, w, eu, ev, cv AS other FROM cross$i
           |      UNION ALL
           |      SELECT cv AS c, w, eu, ev, cu AS other FROM cross$i)
           |    GROUP BY c))""".stripMargin,
        s"""f$i AS MATERIALIZED (
           |  SELECT eu, ev, w FROM f$p
           |  UNION SELECT eu, ev, w FROM mine$i)""".stripMargin,
        s"""p${i}_0 AS MATERIALIZED (
           |  SELECT a.c, CASE WHEN b.c IS NOT NULL
           |                   THEN least(a.c, a.other) ELSE a.other END AS p
           |  FROM mine$i a
           |  LEFT JOIN mine$i b ON a.other = b.c AND b.other = a.c)""".stripMargin) ++
        squares :+
        s"""l$i AS MATERIALIZED (
           |  SELECT l.vtx, coalesce(m.p, l.comp) AS comp
           |  FROM l$p l LEFT JOIN p${i}_$squarings m ON m.c = l.comp)""".stripMargin
    }
    s"""WITH ${(base ++ perRound).mkString(",\n")}
       |SELECT eu AS u, ev AS v, w FROM f$rounds ORDER BY u, v""".stripMargin
  }

  /** Fixed-round unrolled relaxation. Each round reads d_{i-1} TWICE
    * (carry + relax), so the CTEs must be MATERIALIZED — default
    * inlining expands the plan 2^rounds-fold (the kcoreSql hang, at a
    * different fan-out).
    *
    * The FNV weight is computed only on REACH-RESTRICTED edges (r10):
    * relaxation can only ever fire an edge whose source endpoint lies in
    * the sources' connected component, so joining the weightless edge set
    * against the recursive reach closure first is answer-preserving — and
    * it shrinks the expensive per-char HUGEINT lambda from every edge to
    * the reached component's edges. That matters because DuckDB 1.0
    * re-evaluates a lambda-bearing MATERIALIZED CTE per reference once an
    * unrolled chain passes ~15 rounds (measured at sf10: 20 rounds over
    * the all-edges weighted CTE ran >600 s — ~21 re-evals of a 41 s
    * expression — while 15 rounds ran 49 s; the reach-restricted form
    * runs the full 20 rounds in 6 s because each re-eval is ~1 s). */
  private def ssspSql(rounds: Int): String = {
    val wExpr = OracleSql.fnvIhash31(
      "CAST(least(u, v) AS VARCHAR) || '|' || CAST(greatest(u, v) AS VARCHAR)")
    val iterCtes = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT vtx, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT vtx, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.v AS vtx, r.dist + e.w AS dist
         |    FROM und e JOIN d${i - 1} r ON e.u = r.vtx)
         |  GROUP BY vtx)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE undu AS MATERIALIZED (
       |  $undirectedSql),
       |reach AS (
       |  SELECT DISTINCT u AS vtx FROM undu WHERE u < 10
       |  UNION
       |  SELECT e.v AS vtx FROM reach r JOIN undu e ON e.u = r.vtx),
       |und AS MATERIALIZED (
       |  SELECT u, v, CAST($wExpr % 1000 AS BIGINT) + 1 AS w
       |  FROM undu JOIN reach ON undu.u = reach.vtx),
       |d0 AS (SELECT DISTINCT u AS vtx, CAST(0 AS BIGINT) AS dist
       |       FROM und WHERE u < 10),
       |$iterCtes
       |SELECT vtx, dist FROM d$rounds ORDER BY vtx""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_ktruss" -> (ktruss(_, _, 8, 8)),
    "graph_clustering" -> (clusteringCoeff(_, _)),
    "graph_hits" -> (hits(_, _, 8)),
    "graph_dag_layers" -> (dagLayers(_, _, 45)),
    "graph_sssp" -> (ssspBellmanFord(_, _, 20)),
    "graph_msf" -> (boruvkaMsf(_, _, 20)),
    "graph_kcore" -> (kcore(_, _)),
    "graph_bfs" -> (bfs(_, _, 30)),
    "graph_components" -> (connectedComponents(_, _, 25)),
    "graph_component_sizes" -> (componentSizes(_, _)),
    "graph_pagerank" -> (pagerank(_, _)),
    "graph_triangles" -> (triangles(_, _))
  )

  /** The 10 power iterations unrolled as chained CTEs — iterative float
    * algorithms with a FIXED round count stay inside plain SQL. Every CTE
    * is MATERIALIZED (r10): the default-inlined form re-derived the
    * edge/degree subtrees per round and ran >600 s at sf10, while the
    * materialized chain runs in ~54 s on identical data; the round(pr, 6)
    * display tolerance already absorbs any summation-order difference. */
  private def pagerankSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.v AS vtx,
         |         0.15::DOUBLE / (SELECT n FROM nn)
         |           + 0.85::DOUBLE * sum(r.pr / d.deg) AS pr
         |  FROM und e
         |  JOIN r${i - 1} r ON e.u = r.vtx
         |  JOIN deg d ON e.u = d.u
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS MATERIALIZED (
       |  $undirectedSql
       |), deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM und GROUP BY u),
       |nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM deg),
       |r0 AS MATERIALIZED (
       |  SELECT u AS vtx, 1.0::DOUBLE / (SELECT n FROM nn) AS pr FROM deg),
       |$iterCtes
       |SELECT vtx, round(pr, 6) AS pr FROM r$iters ORDER BY vtx""".stripMargin
  }

  /** Synchronous peel unrolled to a fixed round count (≥ fixture depth;
    * idempotent past convergence, so extra rounds are harmless). CTEs are
    * MATERIALIZED: each round references the previous edge set three
    * times, so DuckDB's default inlining would expand the plan 3^rounds-
    * fold (measured as a hang at 8 rounds; materialized it is ~60 ms). */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT u FROM e${i - 1} GROUP BY u HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (SELECT e.u, e.v FROM e${i - 1} e
         |        JOIN k$i a ON e.u = a.u JOIN k$i b ON e.v = b.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH und AS MATERIALIZED (
       |  $undirectedSql
       |), e0 AS MATERIALIZED (SELECT u, v FROM und),
       |$peels
       |SELECT u AS vtx, CAST(count(*) AS BIGINT) AS core_degree
       |FROM e$rounds GROUP BY u ORDER BY vtx""".stripMargin
  }

  private[queries] val undirectedSql =
    """SELECT DISTINCT l_partkey AS u, l_suppkey + 1000000 AS v
      |  FROM lineitem WHERE l_partkey % 10 = l_suppkey % 10
      |  UNION
      |  SELECT DISTINCT l_suppkey + 1000000 AS u, l_partkey AS v
      |  FROM lineitem WHERE l_partkey % 10 = l_suppkey % 10""".stripMargin

  val oracles: Map[String, String] = Map(
    "graph_bfs" ->
      s"""WITH RECURSIVE und AS (
         |  $undirectedSql
         |), bfs AS (
         |  SELECT DISTINCT u AS vtx, 0 AS dist FROM und WHERE u < 10
         |  UNION
         |  SELECT e.v AS vtx, b.dist + 1 AS dist
         |  FROM bfs b JOIN und e ON b.vtx = e.u
         |  WHERE b.dist < 30
         |)
         |SELECT vtx, CAST(min(dist) AS INT) AS dist
         |FROM bfs GROUP BY vtx ORDER BY vtx""".stripMargin,
    "graph_triangles" ->
      """WITH e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT (SELECT count(*) FROM e) AS n_edges,
        |       (SELECT count(*) FROM e e1
        |        JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v) AS n_triangles""".stripMargin,
    "graph_ktruss" -> ktrussSql(8, 8),
    "graph_clustering" -> clusteringSql,
    "graph_hits" -> hitsSql(8),
    "graph_dag_layers" -> dagLayersSql(45),
    "graph_sssp" -> ssspSql(20),
    "graph_msf" -> msfSql(16, 12),
    "graph_pagerank" -> pagerankSql(10),
    "graph_kcore" -> kcoreSql(5, 8),
    "graph_components" ->
      s"""WITH ${componentLabelCtes(25)}
         |SELECT vtx, comp FROM l25 ORDER BY vtx""".stripMargin,
    "graph_component_sizes" ->
      s"""WITH ${componentLabelCtes(25)}
         |SELECT comp, count(*) AS n_vertices FROM l25
         |GROUP BY comp ORDER BY comp""".stripMargin
  )

  /** Min-label propagation unrolled to `rounds` MATERIALIZED per-round
    * CTEs — the dag_layers device applied to connected components (r10).
    * The former RECURSIVE-CTE oracle accumulated every (vertex, label)
    * pair the recursion ever reaches — Σ per-component size² rows, which
    * OOM'd DuckDB's 24 GB budget at sf10 (~440M pairs) — while this form
    * carries exactly one label per vertex per round: O(V + E) per round,
    * scale-free in component size. `rounds` matches the Spark side's
    * maxIter (25); min-propagation is idempotent past convergence, and an
    * under-provisioned unroll leaves some label above its fixpoint — a
    * LOUD hash mismatch against the converged Spark labels, never a
    * false pass (the msfSql under-provisioning argument). */
  private def componentLabelCtes(rounds: Int): String = {
    val iter = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT vtx, min(comp) AS comp FROM (
         |    SELECT vtx, comp FROM l${i - 1}
         |    UNION ALL
         |    SELECT e.v AS vtx, r.comp FROM und e JOIN l${i - 1} r ON e.u = r.vtx)
         |  GROUP BY vtx)""".stripMargin
    }.mkString(",\n")
    s"""und AS MATERIALIZED (
       |  $undirectedSql),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS vtx, u AS comp FROM und),
       |$iter""".stripMargin
  }
}
