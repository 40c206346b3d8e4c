package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pattern-mining + robust-statistics operators — the fifth-round widening
  * batch: market-basket association rules, community detection by label
  * propagation, corpus chunk-level dedup with document reassembly (the
  * CCNet/RefinedWeb line-dedup shape on the word-chunk granularity our
  * newline-free fixture supports), one deterministic PCA power-iteration
  * step, and MAD-based robust outlier detection.
  *
  * The reference engine (a Rust MapReduce with wc/grep/vertex-degree,
  * /root/reference/src/app/mod.rs:29-53) expresses none of these directly;
  * each is the map→shuffle→reduce dataflow (§2.A) applied to a pattern a
  * production corpus/warehouse pipeline needs.
  */
object MiningQueries {

  // ---------------------------------------------------------------- baskets

  /** Market-basket association rules over order baskets: items are part
    * brands (25-value domain), baskets are orders. Emits
    * support/confidence/lift for every ordered brand pair with support ≥
    * 0.5% — the classic Apriori-at-k=2 readout, done as pure relational
    * algebra.
    *
    * Scale: NO basket self-join — baskets aggregate to per-order sorted
    * brand lists (one shuffle, keyed on `l_orderkey`) and pairs generate
    * in-array via the shared BucketPairs idiom (two codegen'd generates,
    * fan-out bounded by per-basket distinct-item count squared; TPC-H
    * baskets are ≤7 lines). The pair aggregate lands on a ≤ brand²
    * (625-row) domain with map-side combine, and item/order totals
    * broadcast back. The same plan at 100 TB needs no change: pair
    * cardinality is domain-bounded, not data-bounded.
    */
  def marketBasket(s: SparkSession, d: String): DataFrame = {
    val items = Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
      .distinct()
    val totals = items.agg(countDistinct(col("okey")).as("n_orders"))
    val brandCnt = items.groupBy("brand").agg(count(lit(1)).as("n"))
    val baskets = items.groupBy("okey")
      .agg(sort_array(collect_set(col("brand"))).as("brands"))
    val pairs = BucketPairs.pairs(baskets, "brands", "brand_a", "brand_b")
      .groupBy("brand_a", "brand_b")
      .agg(count(lit(1)).as("pair_cnt"))
    pairs
      .join(broadcast(brandCnt.select(col("brand").as("brand_a"), col("n").as("n_a"))), "brand_a")
      .join(broadcast(brandCnt.select(col("brand").as("brand_b"), col("n").as("n_b"))), "brand_b")
      .crossJoin(broadcast(totals))
      .withColumn("support", round(col("pair_cnt") / col("n_orders"), 6))
      .filter(col("support") >= 0.005)
      .withColumn("confidence", round(col("pair_cnt") / col("n_a"), 6))
      .withColumn("lift",
        round((col("pair_cnt") * col("n_orders")) / (col("n_a") * col("n_b")), 6))
      .select("brand_a", "brand_b", "pair_cnt", "n_a", "n_b", "n_orders",
        "support", "confidence", "lift")
      .orderBy("brand_a", "brand_b")
  }

  // ------------------------------------------------------------------- LPA

  /** One synchronous label-propagation round: every vertex adopts the most
    * frequent label among its neighbors, ties broken toward the smallest
    * label — fully deterministic, unlike classic randomized LPA. */
  private def lpaRound(e: DataFrame, lbl: DataFrame): DataFrame = {
    val nb = e
      .join(lbl.select(col("vtx").as("nv"), col("lbl").as("nlbl")),
        col("v") === col("nv"))
      .groupBy(col("u"), col("nlbl"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("u").orderBy(col("cnt").desc, col("nlbl"))
    nb.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("u").as("vtx"), col("nlbl").as("lbl"))
  }

  /** Community detection by THREE synchronous label-propagation rounds over
    * the part↔supplier graph (same edge set as graph_components, so
    * communities refine those components). Each round is one join + one
    * count aggregate + one per-vertex argmax — the Pregel superstep as
    * dataflow. Rounds are unrolled (not run to fixpoint) so the DuckDB
    * oracle can restate them as three chained CTEs; the fixpoint form
    * would reuse graph_components' localCheckpoint loop.
    *
    * Scale: per-round cost is |E| join + |E| aggregate, hash-partitioned
    * on vertex id; the argmax window partitions by vertex (no global
    * sort). Synchronous LPA on 100 TB graphs is exactly this loop with
    * checkpoint-every-5 lineage truncation.
    */
  /** The converged (vtx, lbl) table after `rounds` synchronous LPA
    * rounds — shared by the labeling query and the modularity scorer. */
  private def lpaLabels(s: SparkSession, d: String, rounds: Int): DataFrame = {
    // 3 unrolled rounds keep the plan shallow enough to stay declarative;
    // Spark's ReuseExchange dedupes the identical edge subtrees. A
    // fixpoint variant would persist edges + localCheckpoint per round
    // like GraphQueries.connectedComponents.
    val e = GraphQueries.edges(s, d)
    val l0 = e.select(col("u").as("vtx")).distinct()
      .withColumn("lbl", col("vtx"))
    (1 to rounds).foldLeft(l0)((l, _) => lpaRound(e, l))
  }

  def labelPropagation(s: SparkSession, d: String, rounds: Int = 3): DataFrame = {
    val cs = Window.partitionBy("lbl")
    lpaLabels(s, d, rounds).withColumn("csize", count(lit(1)).over(cs))
      .select("vtx", "lbl", "csize").orderBy("vtx")
  }

  /** Newman modularity of the LPA communities, per community: Q_c =
    * intra_c/2m − (Σdeg_c/2m)² — the quality score that tells you whether
    * the propagation converged to real structure (ΣQ_c > 0) or noise.
    * Both terms assemble from exact BIGINT edge counts (intra2 counts
    * both directions, m2 = 2m, so no halving ever leaves the integers);
    * only the final two divisions are floats, identical on both engines.
    * One pass over edges for degrees, one label-annotation join for intra
    * counts, everything after on community-sized tables.
    */
  def modularity(s: SparkSession, d: String, rounds: Int = 3): DataFrame = {
    val e = GraphQueries.edges(s, d)
    val lbl = lpaLabels(s, d, rounds)
    val lu = lbl.select(col("vtx").as("u"), col("lbl").as("lu"))
    val lv = lbl.select(col("vtx").as("v"), col("lbl").as("lv"))
    val m2tbl = e.agg(count(lit(1)).as("m2"))
    val intra = e.join(lu, "u").join(lv, "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("intra2"))
    val ds = e.groupBy("u").agg(count(lit(1)).as("deg"))
      .join(lu, "u")
      .groupBy(col("lu").as("lbl"))
      .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_vertices"))
    ds.join(intra, Seq("lbl"), "left")
      .withColumn("intra2", coalesce(col("intra2"), lit(0L)))
      .crossJoin(broadcast(m2tbl))
      .withColumn("q_contrib", // + 0.0 canonicalizes IEEE -0.0 → +0.0
        round(col("intra2") / col("m2")
          - (col("deg_sum").cast("double") / col("m2"))
            * (col("deg_sum").cast("double") / col("m2")), 6) + lit(0.0))
      .select("lbl", "n_vertices", "intra2", "deg_sum", "q_contrib")
      .orderBy("lbl")
  }

  // ----------------------------------------------------- chunk-level dedup

  /** Corpus chunk-level exact dedup WITH reassembly — the CCNet/C4
    * line-level dedup shape: split every document into 8-word chunks, keep
    * only the globally-first occurrence of each distinct chunk (ordered by
    * (doc_id, position)), and reassemble each document from its surviving
    * chunks. Emits per-doc chunk/keep counts and the reassembled text, so
    * the oracle hash-checks the actual rewritten corpus, not just counts.
    *
    * Scale: the only big shuffle is the group-by-chunk (hash-partitioned
    * on chunk text; at 100 TB you'd key on a 128-bit chunk digest instead
    * of the string — same plan, smaller shuffle payload), and the
    * reassembly group-by is keyed on doc_id. First-occurrence semantics
    * need no global sort: the per-chunk argmin is a window over the chunk
    * partition.
    */
  def chunkDedup(s: SparkSession, d: String, width: Int = 8): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val nChunks = ceil(size(col("w")) / lit(width.toDouble)).cast("long")
    val chunks = docs
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), (nChunks - 1).cast("int")),
          i => array_join(slice(col("w"), i * width + 1, lit(width)), " ")))
          .as(Seq("idx", "chunk")))
    val firstW = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    chunks
      .withColumn("rn", row_number().over(firstW))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("idx"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("kept_text"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- PCA power

  /** Fixed deterministic start vector for the power iteration: a rational
    * ramp (no libm), identical bit-for-bit in both engines. */
  private[queries] def pcaV0(j: Int): Double = ((j * 37 + 11) % 64 - 32) / 32.0

  /** One PCA power-iteration step over the 64-dim embeddings: w = Σ_rows
    * (xᵀv₀)·x with a fixed rational start vector v₀. Per-row dot products
    * fold in index order (bit-identical across engines); the per-dimension
    * row sum — the one order-NONdeterministic float reduction — is
    * micro-rounded to integer units and summed as BIGINT, the repo's
    * fixed-point determinism discipline (cf. ml_logreg_step). Output: the
    * unnormalized eigvec estimate in micro-units plus its max-abs-relative
    * double form.
    *
    * Scale: one linear scan, a 64-key aggregate, no joins; this is the
    * map-side-combine-friendly shape (partial sums per partition), and k
    * power iterations = k such scans with v broadcast back — the standard
    * distributed PCA loop when the 64×64 Gram matrix is too implicit to
    * materialize... at dim 64 you'd really ship the Gram matrix (64²
    * doubles) in one pass; the per-step shape here is what survives at
    * dim 10⁴+.
    */
  def pcaPowerStep(s: SparkSession, d: String): DataFrame = {
    val v0 = array((0 until 64).map(j => lit(pcaV0(j))): _*)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val dot = aggregate(zip_with(col("v"), v0, (x, y) => x * y),
      lit(0.0), (acc, t) => acc + t)
    val terms = e.withColumn("dot", dot)
      .select(posexplode(col("v")).as(Seq("j0", "x")), col("dot"))
      .select((col("j0") + 1).as("dim"),
        round(col("dot") * col("x") * 1e6).cast("long").as("term_micro"))
    val sums = terms.groupBy("dim").agg(sum("term_micro").as("w_micro"))
    val wmax = Window.partitionBy()
    sums
      .withColumn("w_rel",
        round(col("w_micro") / max(abs(col("w_micro"))).over(wmax), 6))
      .select(col("dim").cast("int").as("dim"), col("w_micro"), col("w_rel"))
      .orderBy("dim")
  }

  // ------------------------------------------------------------ MAD outliers

  /** Robust outlier detection per event type: median/MAD instead of
    * mean/σ (q_outliers), so a heavy-tailed value column can't inflate its
    * own threshold. Values are cent-scaled to BIGINT so both engines
    * interpolate medians over exact integers; the modified z-score
    * 0.6745·(v−med)/MAD flags |z| > 3.5 (Iglewicz-Hoaglin).
    *
    * Scale: two scans (median of values, then median of absolute
    * deviations — the exact-median two-pass cost), each a per-type exact
    * median; at 100 TB each median becomes the q_median_2pass
    * histogram-then-middle-bucket scan per group, with the tiny per-type
    * stats broadcast back both times. No event-×-event anything.
    */
  def outliersMad(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("v_c"))
    val med = ev.groupBy("event_type").agg(median(col("v_c")).as("med"))
    val withMed = ev.join(broadcast(med), "event_type")
    val mad = withMed.groupBy("event_type")
      .agg(median(abs(col("v_c") - col("med"))).as("mad"))
    withMed.join(broadcast(mad), "event_type")
      .filter(col("mad") > 0)
      .withColumn("z", lit(0.6745) * (col("v_c") - col("med")) / col("mad"))
      .filter(abs(col("z")) > 3.5)
      .select(col("event_id"), col("event_type"), col("v_c"), col("med"),
        col("mad"), round(col("z"), 6).as("z"))
      .orderBy("event_id")
  }

  /** Degree assortativity (Newman's r): the Pearson correlation of
    * endpoint degrees across edges — do hubs attach to hubs (r > 0) or
    * to leaves (r < 0, the classic bipartite/dependency-graph signature)?
    * All six power sums accumulate as exact BIGINTs over one
    * degree-annotated edge pass; the closed form assembles in doubles
    * identically on both engines. One row out — the graph-level health
    * metric next to the per-community modularity table.
    */
  def assortativity(s: SparkSession, d: String): DataFrame = {
    val e = GraphQueries.edges(s, d)
    val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
    val ann = e
      .join(deg.select(col("u"), col("deg").as("dx")), "u")
      .join(deg.select(col("u").as("v"), col("deg").as("dy")), "v")
    def dbl(c: String): Column = col(c).cast("double")
    ann
      .agg(count(lit(1)).as("m2"), sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .withColumn("r", round(
        (dbl("m2") * col("sxy") - dbl("sx") * col("sy"))
          / sqrt((dbl("m2") * col("sxx") - dbl("sx") * col("sx"))
            * (dbl("m2") * col("syy") - dbl("sy") * col("sy"))), 6))
      .select("m2", "sx", "sxy", "sxx", "syy", "r")
  }

  /** Deterministic RANDOM WALKS — the DeepWalk/node2vec corpus generator:
    * from every start vertex (id < 50), take 5 steps where each step's
    * "random" neighbor is the argmin of a salted FNV hash over
    * (walk, step, candidate) — pseudo-random per walk-step but fully
    * reproducible across engines, partitionings, and reruns (the same
    * property every deterministic sampler in this repo builds on). Each
    * step is one equi-join on the current vertex + one per-walk argmin
    * window; k steps = k such rounds, the exact shape a distributed walk
    * engine runs at any scale. Emits the walks in long format
    * (walk_id, step, node).
    */
  def randomWalks(s: SparkSession, d: String, steps: Int = 5,
      maxStart: Long = 50L): DataFrame = {
    // r12 (guide §2.4 / §1.2): each step's output is referenced TWICE —
    // as the next step's frontier AND in the accumulated walk union — so
    // the un-checkpointed fold doubled the lazy plan per step (2^steps
    // subtree copies; execution deduped only up to the window's exchange,
    // recomputing the window+filter per reference). Lazy localCheckpoints
    // make every step compute once and the plan stay linear; e and w0 get
    // the same treatment (e feeds every step's join). Measured same-JVM
    // interleaved at sf0.1: 4.0-4.8 s → 2.8-3.5 s, identical 294 rows.
    val e = GraphQueries.edges(s, d).localCheckpoint(false)
    val w0 = e.select(col("u").as("walk_id")).distinct()
      .filter(col("walk_id") < maxStart)
      .withColumn("cur", col("walk_id"))
      .withColumn("step", lit(0L))
      .localCheckpoint(false)
    val all = (1 to steps).foldLeft((w0, w0)) { case ((frontier, acc), k) =>
      val cand = frontier.select(col("walk_id"), col("cur"))
        .join(e, col("cur") === col("u"))
        .withColumn("h", graft.plans.Fnv1a64.ihash31(
          concat_ws("|", col("walk_id"), lit(k), col("v"))))
      val wd = Window.partitionBy("walk_id").orderBy(col("h"), col("v"))
      val next = cand.withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1)
        .select(col("walk_id"), col("v").as("cur"), lit(k.toLong).as("step"))
        .localCheckpoint(false)
      (next, acc.unionByName(next))
    }._2
    all.select(col("walk_id"), col("step"), col("cur").as("node"))
      .orderBy("walk_id", "step")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_random_walk" -> (randomWalks(_, _)),
    "graph_assortativity" -> (assortativity(_, _)),
    "q_market_basket" -> (marketBasket(_, _)),
    "graph_label_prop" -> (labelPropagation(_, _)),
    "graph_modularity" -> (modularity(_, _)),
    "dedup_chunks" -> (chunkDedup(_, _)),
    "ml_pca_power" -> (pcaPowerStep(_, _)),
    "q_outliers_mad" -> (outliersMad(_, _))
  )

  private def lpaRoundSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT vtx, lbl FROM (
       |    SELECT e.u AS vtx, l.lbl, count(*) AS cnt,
       |           row_number() OVER (PARTITION BY e.u
       |                              ORDER BY count(*) DESC, l.lbl) AS rn
       |    FROM e JOIN $prev l ON l.vtx = e.v
       |    GROUP BY e.u, l.lbl)
       |  WHERE rn = 1)""".stripMargin

  private def walkStepSql(k: Int, prev: String): String =
    s"""w$k AS (
       |  SELECT walk_id, v AS cur, CAST($k AS BIGINT) AS step FROM (
       |    SELECT p.walk_id, e.v,
       |           row_number() OVER (PARTITION BY p.walk_id
       |             ORDER BY CAST(${OracleSql.fnvIhash31(
                 s"(CAST(p.walk_id AS VARCHAR) || '|' || '$k' || '|' || CAST(e.v AS VARCHAR))")}
       |                  AS BIGINT), e.v) AS rn
       |    FROM $prev p JOIN e ON p.cur = e.u)
       |  WHERE rn = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "graph_random_walk" ->
      s"""WITH e AS MATERIALIZED (
         |  ${GraphQueries.undirectedSql}
         |),
         |w0 AS (SELECT DISTINCT u AS walk_id, u AS cur,
         |              CAST(0 AS BIGINT) AS step
         |       FROM e WHERE u < 50),
         |${walkStepSql(1, "w0")},
         |${walkStepSql(2, "w1")},
         |${walkStepSql(3, "w2")},
         |${walkStepSql(4, "w3")},
         |${walkStepSql(5, "w4")}
         |SELECT walk_id, step, cur AS node
         |FROM (SELECT * FROM w0 UNION ALL SELECT * FROM w1
         |      UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3
         |      UNION ALL SELECT * FROM w4 UNION ALL SELECT * FROM w5)
         |ORDER BY walk_id, step""".stripMargin,
    "graph_assortativity" ->
      s"""WITH e AS MATERIALIZED (
         |  ${GraphQueries.undirectedSql}
         |),
         |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u),
         |ann AS (
         |  SELECT dx.deg AS dx, dy.deg AS dy FROM e
         |  JOIN deg dx ON dx.u = e.u
         |  JOIN deg dy ON dy.u = e.v),
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m2,
         |         CAST(sum(dx) AS BIGINT) AS sx,
         |         CAST(sum(dy) AS BIGINT) AS sy,
         |         CAST(sum(dx * dy) AS BIGINT) AS sxy,
         |         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         |         CAST(sum(dy * dy) AS BIGINT) AS syy
         |  FROM ann)
         |SELECT m2, sx, sxy, sxx, syy,
         |       round((CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         |             / sqrt((CAST(m2 AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         |                    * (CAST(m2 AS DOUBLE) * syy
         |                       - CAST(sy AS DOUBLE) * sy)), 6) AS r
         |FROM a""".stripMargin,
    "q_market_basket" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM items),
        |bc AS (SELECT brand, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY brand),
        |pairs AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b,
        |         CAST(count(*) AS BIGINT) AS pair_cnt
        |  FROM items a JOIN items b
        |    ON a.okey = b.okey AND a.brand < b.brand
        |  GROUP BY 1, 2)
        |SELECT brand_a, brand_b, pair_cnt, ca.n AS n_a, cb.n AS n_b, n_orders,
        |       round(pair_cnt / n_orders, 6) AS support,
        |       round(pair_cnt / ca.n, 6) AS confidence,
        |       round((pair_cnt * n_orders) / (ca.n * cb.n), 6) AS lift
        |FROM pairs
        |JOIN bc ca ON ca.brand = brand_a
        |JOIN bc cb ON cb.brand = brand_b
        |CROSS JOIN tot
        |WHERE round(pair_cnt / n_orders, 6) >= 0.005
        |ORDER BY brand_a, brand_b""".stripMargin,
    "graph_modularity" ->
      s"""WITH e AS MATERIALIZED (
         |  ${GraphQueries.undirectedSql}
         |),
         |l0 AS (SELECT DISTINCT u AS vtx, u AS lbl FROM e),
         |${lpaRoundSql("l0", "l1")},
         |${lpaRoundSql("l1", "l2")},
         |${lpaRoundSql("l2", "l3")},
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e),
         |ann AS (
         |  SELECT lu.lbl AS lu, lv.lbl AS lv FROM e
         |  JOIN l3 lu ON lu.vtx = e.u
         |  JOIN l3 lv ON lv.vtx = e.v),
         |intra AS (SELECT lu AS lbl, CAST(count(*) AS BIGINT) AS intra2
         |          FROM ann WHERE lu = lv GROUP BY 1),
         |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u),
         |ds AS (
         |  SELECT l.lbl, CAST(sum(deg) AS BIGINT) AS deg_sum,
         |         CAST(count(*) AS BIGINT) AS n_vertices
         |  FROM deg JOIN l3 l ON l.vtx = deg.u GROUP BY 1)
         |SELECT ds.lbl, n_vertices,
         |       CAST(coalesce(intra2, 0) AS BIGINT) AS intra2, deg_sum,
         |       round(coalesce(intra2, 0) / m2
         |             - (CAST(deg_sum AS DOUBLE) / m2)
         |               * (CAST(deg_sum AS DOUBLE) / m2), 6) + 0.0 AS q_contrib
         |FROM ds LEFT JOIN intra USING (lbl) CROSS JOIN m
         |ORDER BY lbl""".stripMargin,
    "graph_label_prop" ->
      s"""WITH e AS MATERIALIZED (
         |  ${GraphQueries.undirectedSql}
         |),
         |l0 AS (SELECT DISTINCT u AS vtx, u AS lbl FROM e),
         |${lpaRoundSql("l0", "l1")},
         |${lpaRoundSql("l1", "l2")},
         |${lpaRoundSql("l2", "l3")}
         |SELECT vtx, lbl,
         |       CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS csize
         |FROM l3 ORDER BY vtx""".stripMargin,
    "dedup_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, i AS idx,
        |         array_to_string(w[(i*8+1):(i*8+8)], ' ') AS chunk
        |  FROM w, LATERAL (SELECT unnest(range(0,
        |         CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i)),
        |kept AS (
        |  SELECT doc_id, idx, chunk,
        |         row_number() OVER (PARTITION BY chunk
        |                            ORDER BY doc_id, idx) AS rn
        |  FROM ch)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
        |                           ORDER BY idx), '') AS kept_text
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ml_pca_power" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |dots AS (
        |  SELECT vec_id, v,
        |         list_reduce(
        |           list_transform(generate_series(1, 64),
        |             i -> v[i] * ((((i - 1) * 37 + 11) % 64 - 32) / 32.0)),
        |           (a, b) -> a + b) AS dot
        |  FROM e),
        |terms AS (
        |  SELECT j AS dim,
        |         CAST(round(dot * v[j] * 1e6) AS BIGINT) AS term_micro
        |  FROM dots, (SELECT unnest(generate_series(1, 64)) AS j)),
        |sums AS (SELECT dim, CAST(sum(term_micro) AS BIGINT) AS w_micro
        |         FROM terms GROUP BY dim)
        |SELECT CAST(dim AS INT) AS dim, w_micro,
        |       round(w_micro / max(abs(w_micro)) OVER (), 6) AS w_rel
        |FROM sums ORDER BY dim""".stripMargin,
    "q_outliers_mad" ->
      """WITH ev AS (SELECT event_id, event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS v_c
        |            FROM events),
        |med AS (SELECT event_type, quantile_cont(v_c, 0.5) AS med
        |        FROM ev GROUP BY event_type),
        |dev AS (SELECT ev.*, med FROM ev JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(abs(v_c - med), 0.5) AS mad
        |        FROM dev GROUP BY event_type)
        |SELECT event_id, event_type, v_c, med, mad,
        |       round(0.6745 * (v_c - med) / mad, 6) AS z
        |FROM dev JOIN mad USING (event_type)
        |WHERE mad > 0 AND abs(0.6745 * (v_c - med) / mad) > 3.5
        |ORDER BY event_id""".stripMargin
  )
}
