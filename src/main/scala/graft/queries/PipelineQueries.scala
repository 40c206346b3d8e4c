package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second-tier training-data-pipeline operators: near-dup CLUSTERING (the
  * step after pair detection — every dedup pipeline must resolve pairs into
  * keep/drop decisions), CDC-style latest-version compaction, corpus bigram
  * statistics, and sketch-based percentiles.
  *
  * Scale notes: cluster resolution runs min-label propagation over the
  * near-dup pair graph — pairs are a vanishing fraction of the corpus, so
  * the iteration cost is negligible next to pair generation; keep-latest is
  * one shuffle on the partition key with a single window pass; bigram stats
  * are explode→hash-agg with map-side partials (vocabulary² keys, not
  * corpus-sized); approx percentiles use the GK sketch (mergeable, bounded
  * memory — THE percentile at 100 TB, where exact percentile means a global
  * sort).
  */
object PipelineQueries {

  /** No-op: the module keeps no state across queries. Kept because the
    * benchmark harness (`perfbench` `Harness.resetState`) calls it. */
  def reset(): Unit = ()

  /** Near-dup cluster resolution: connected components over the exact
    * Jaccard ≥ 0.8 pair graph (`dedup_ngram_jaccard`), each doc labeled
    * with the minimum doc_id reachable — its cluster representative. The
    * keeper decision (`is_keeper`) is what a real pipeline feeds to the
    * filter stage. Deterministic fixpoint → fully oracled via a recursive
    * CTE over the same pair query.
    */
  def dedupClusters(s: SparkSession, d: String, maxIter: Int = 20,
      threshold: Double = 0.8, localCap: Int = 2000000): DataFrame = {
    val pairs = DedupQueries
      .ngramJaccard(s, d, threshold = threshold, sorted = false)
      .select(col("da"), col("db"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // HYBRID cluster resolution — the production design: after near-dup
    // detection the PAIR set is orders of magnitude smaller than the
    // corpus (sparse by construction), so when it fits the driver
    // (≤ localCap edges ≈ low hundreds of MB) a local union-find resolves
    // components in one pass instead of O(diameter) distributed rounds —
    // same min-root labels, ~8 scheduler round-trips saved. A corpus
    // whose pair set exceeds the cap falls back to the distributed
    // min-label propagation (identical fixpoint; graph_components keeps
    // that loop as the first-class Pregel demonstration).
    //
    // The regime probe is a COUNT of a capped limit — never a collect —
    // so deciding "too big for the driver" cannot itself exhaust
    // spark.driver.maxResultSize; the pair DAG (the dominant cost) is
    // persisted across probe + resolution so neither path recomputes the
    // shingle self-join. Both paths finish materializing before the
    // unpersist (collect here; minLabelPropagation's eager convergence
    // loop + lazy-checkpoint truncation in the fallback).
    val result = try {
      if (pairs.limit(localCap + 1).count() <= localCap) {
        val collected = pairs.collect()
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent(c); parent(c) = r; c = nxt
          }
          r
        }
        collected.foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) { // min id becomes the root — the min-label semantics
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          } else parent.getOrElseUpdate(ra, ra)
        }
        val vertices = collected.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
        import s.implicits._
        vertices.toSeq.map(v => (v, find(v))).toDF("doc_id", "cluster_id")
          .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
          .orderBy("doc_id")
      } else {
        val und = pairs.select(col("da").as("u"), col("db").as("v"))
          .union(pairs.select(col("db").as("u"), col("da").as("v")))
        GraphQueries.minLabelPropagation(und, maxIter)
          .select(col("vtx").as("doc_id"), col("comp").as("cluster_id"),
            (col("vtx") === col("comp")).as("is_keeper"))
          .orderBy("doc_id")
      }
    } finally pairs.unpersist(blocking = false)
    result
  }

  /** Near-dup curation keep-BEST (the C4/RefinedWeb selection shape):
    * cluster the near-dup pair graph as in `dedupClusters`, then keep the
    * highest-QUALITY member of each cluster (distinct-token ratio, exact
    * BIGINT÷BIGINT double; tie-break doc_id) instead of the arbitrary
    * min-id representative — the decision an actual curation run ships.
    * Docs outside any cluster are their own keeper. The scored corpus is
    * bound to `DedupQueries.PairUniverseMaxDocId` — the SAME universe the
    * pair graph under `dedupClusters` covers; a caller-tunable bound here
    * would silently desynchronize the two domains (scored docs with no
    * possible cluster label, or cluster members missing from the scan).
    * Scale shape: the cluster labels are a vanishing fraction of the
    * corpus (pair-graph vertices only), the corpus-side score is one
    * scan, and the keep ranking is a window partitioned by cluster_id —
    * bounded groups, never a global sort.
    */
  def nearKeepBest(s: SparkSession, d: String): DataFrame = {
    val toks = spaceTokens(col("text"))
    val scored = Tables.documents(s, d)
      .filter(col("doc_id") < DedupQueries.PairUniverseMaxDocId)
      .select(col("doc_id"), distinctTokenRatio(toks).as("score"))
    val clusters = dedupClusters(s, d).select(col("doc_id"), col("cluster_id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("score"), col("keep"))
      .orderBy("doc_id")
  }

  /** CDC-style compaction: the LATEST event per user (by ts, tie-broken on
    * event_id) — the keep-latest dedup every incremental ingest pipeline
    * runs. One shuffle on the entity key; ranking never leaves the
    * partition. Timestamps compared at µs precision in both engines.
    */
  def keepLatest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** Corpus bigram document frequencies, top 20 — the n-gram statistics
    * pass of corpus analysis (shingles are per-doc-distinct, so counts are
    * document frequencies). Vocabulary-bounded hash agg; the total order
    * (df DESC, bigram ASC) makes the cut deterministic.
    */
  def bigramsTop(s: SparkSession, d: String, k: Int = 20): DataFrame =
    Tables.documents(s, d)
      .select(explode(bigramShingles(spaceTokens(col("text")))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("bigram"))
      .limit(k)

  /** Mergeable-sketch percentiles (Greenwald-Khanna via percentile_approx):
    * the distributed answer to quantiles at 100 TB, where the exact form
    * (`q_percentiles`) needs a per-group sort. The sketch values are
    * implementation-specific, so the oracle gates the error envelope: the
    * exact percentiles (interpolated, matching DuckDB quantile_cont) are
    * oracle-checked value-for-value, and the `*_ok` booleans assert the
    * GK estimates sit within 1% relative of exact (accuracy=10000 bounds
    * rank error at n/10000 ranks — far tighter than 1% in value on this
    * price distribution; deterministic, so a pass is stable). LlmOpsSpec
    * additionally bounds the envelope at two SFs.
    */
  def approxPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("pcts"),
        expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("ex"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(element_at(col("ex"), 1), 4).as("p50"),
        round(element_at(col("ex"), 2), 4).as("p90"),
        round(element_at(col("ex"), 3), 4).as("p99"),
        col("n"),
        (abs(element_at(col("pcts"), 1) - element_at(col("ex"), 1)) <=
          element_at(col("ex"), 1) * 0.01).as("p50_ok"),
        (abs(element_at(col("pcts"), 2) - element_at(col("ex"), 2)) <=
          element_at(col("ex"), 2) * 0.01).as("p90_ok"),
        (abs(element_at(col("pcts"), 3) - element_at(col("ex"), 3)) <=
          element_at(col("ex"), 3) * 0.01).as("p99_ok"))
      .orderBy("l_returnflag")

  /** Data-quality constraint report (the Deequ/great-expectations shape):
    * one row per (table, metric) — volumes, key-uniqueness violations,
    * referential-integrity orphans, null counts, domain violations — as a
    * single unioned plan the scheduler runs as independent parallel
    * aggregates. The ingest gate a pipeline evaluates before promoting a
    * snapshot; violation metrics are 0 on this clean fixture BY DESIGN
    * (that is the assertion) while the volume/distinct metrics prove the
    * report measures the real tables.
    */
  def dqChecks(s: SparkSession, d: String): DataFrame = {
    def row(table: String, metric: String, v: org.apache.spark.sql.Column,
        from: DataFrame): DataFrame =
      from.agg(v.cast("long").as("value"))
        .select(lit(table).as("tbl"), lit(metric).as("metric"), col("value"))
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val c = Tables.customer(s, d)
    val ev = Tables.events(s, d)
    row("orders", "rows", count(lit(1)), o)
      .unionAll(row("orders", "dup_orderkeys",
        count(lit(1)) - countDistinct(col("o_orderkey")), o))
      .unionAll(row("lineitem", "rows", count(lit(1)), li))
      .unionAll(row("lineitem", "orphan_orderkeys", count(lit(1)),
        li.join(o.select("o_orderkey"),
          li("l_orderkey") === col("o_orderkey"), "left_anti")))
      .unionAll(row("lineitem", "bad_quantity", count(when(
        col("l_quantity") < 1 || col("l_quantity") > 50, 1)), li))
      .unionAll(row("customer", "rows", count(lit(1)), c))
      .unionAll(row("customer", "null_acctbal",
        count(when(col("c_acctbal").isNull, 1)), c))
      .unionAll(row("events", "rows", count(lit(1)), ev))
      .unionAll(row("events", "distinct_users",
        countDistinct(col("user_id")), ev))
      .orderBy("tbl", "metric")
  }

  /** Quality-gate ablation waterfall — the pipeline-observability readout
    * every curation run ships with: for each of four gates (length,
    * language allowlist, lexical diversity, top-word repetition), how many
    * docs fail it ALONE, how many fail it MARGINALLY (passing every
    * earlier gate in the canonical order), and how many docs remain after
    * it. One corpus scan plus one per-doc top-word aggregate; all twelve
    * counters come from a single conditional-sum aggregate reshaped to
    * four rows, so adding a gate costs three more counters, not a pass.
    */
  /** Per-doc gate flags shared by the ablation waterfall and the bitmask
    * histogram — one definition so the two readouts can never disagree
    * on what a gate means. */
  private def gateFlags(s: SparkSession, d: String): DataFrame = {
    val toks = spaceTokens(col("text"))
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), col("lang"),
      size(toks).as("ntok"), size(array_distinct(toks)).as("ndis"))
    val topw = docs.select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("topw"))
    base.join(topw, "doc_id")
      .withColumn("g_len", col("ntok") >= 20)
      .withColumn("g_lang", col("lang").isin("en", "es", "de", "fr"))
      .withColumn("g_div", col("ndis") / col("ntok") >= 0.4)
      .withColumn("g_rep", col("topw") / col("ntok") <= 0.2)
  }

  def gateAblation(s: SparkSession, d: String): DataFrame = {
    val f = gateFlags(s, d)
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val a = f.agg(
      count(lit(1)).as("total"),
      cnt(!col("g_len")).as("fa1"), cnt(!col("g_lang")).as("fa2"),
      cnt(!col("g_div")).as("fa3"), cnt(!col("g_rep")).as("fa4"),
      cnt(col("g_len") && !col("g_lang")).as("fm2"),
      cnt(col("g_len") && col("g_lang") && !col("g_div")).as("fm3"),
      cnt(col("g_len") && col("g_lang") && col("g_div") && !col("g_rep")).as("fm4"),
      cnt(col("g_len")).as("r1"),
      cnt(col("g_len") && col("g_lang")).as("r2"),
      cnt(col("g_len") && col("g_lang") && col("g_div")).as("r3"),
      cnt(col("g_len") && col("g_lang") && col("g_div") && col("g_rep")).as("r4"))
    def row(step: Long, gate: String, fa: String, fm: Column, r: String): Column =
      struct(lit(step).as("step"), lit(gate).as("gate"),
        col(fa).as("fail_alone"), fm.as("fail_marginal"),
        col(r).as("remaining"), col("total").as("total_docs"))
    a.select(explode(array(
        row(1L, "len_ge_20", "fa1", col("fa1"), "r1"),
        row(2L, "lang_allowlist", "fa2", col("fm2"), "r2"),
        row(3L, "diversity_ge_0.4", "fa3", col("fm3"), "r3"),
        row(4L, "topword_le_0.2", "fa4", col("fm4"), "r4"))).as("x"))
      .select(col("x.step").as("step"), col("x.gate").as("gate"),
        col("x.fail_alone").as("fail_alone"),
        col("x.fail_marginal").as("fail_marginal"),
        col("x.remaining").as("remaining"),
        col("x.total_docs").as("total_docs"))
      .orderBy("step")
  }

  /** k-anonymity audit over quasi-identifiers — the privacy gate a
    * dataset release runs before publication: every (nationkey,
    * mktsegment) equivalence class is measured and classes smaller than
    * k=5 are flagged at-risk (they would need suppression or
    * generalization). One aggregate over the quasi-identifier key plus a
    * 125-class readout; the same plan audits any QI set at any volume.
    */
  def kAnonymity(s: SparkSession, d: String, k: Int = 5): DataFrame =
    Tables.customer(s, d)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", (col("class_size") < k).cast("int"))
      .orderBy("c_nationkey", "c_mktsegment")

  /** Gate-combination histogram: each document's pass/fail pattern packs
    * into a 4-bit provenance mask (bit i = gate i passed) and the corpus
    * rolls up per mask — the filter-provenance table that shows WHICH
    * gate combinations actually co-occur (the ablation waterfall shows
    * marginal effects; this shows the joint distribution). Same gateFlags
    * definition, one extra 16-key aggregate.
    */
  def gateBitmask(s: SparkSession, d: String): DataFrame = {
    def bit(c: Column, v: Long): Column = when(c, v).otherwise(0L)
    gateFlags(s, d)
      .withColumn("mask", bit(col("g_len"), 1L) + bit(col("g_lang"), 2L)
        + bit(col("g_div"), 4L) + bit(col("g_rep"), 8L))
      .groupBy("mask")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("passed_len", (col("mask").bitwiseAND(1) > 0).cast("int"))
      .withColumn("passed_lang", (col("mask").bitwiseAND(2) > 0).cast("int"))
      .withColumn("passed_div", (col("mask").bitwiseAND(4) > 0).cast("int"))
      .withColumn("passed_rep", (col("mask").bitwiseAND(8) > 0).cast("int"))
      .orderBy("mask")
  }

  /** Exact Shapley attribution of corpus rejection across the four
    * quality gates — the cooperative-game answer to "which gate does the
    * filtering work", where `pipeline_gate_ablation`'s sequential
    * marginals depend on gate order and Shapley is the order-free
    * average over all 4! orderings. Characteristic v(S) = docs rejected
    * when only the gates in S apply = total − Σ_{mask ⊇ S} n_mask,
    * computable exactly from `pipeline_gate_bitmask`'s 16-row subset
    * table; φᵢ rides EXACT integer numerators over the common
    * denominator 4! = 24 (weights |S|!·(3−|S|)! = 6,2,2,6), so both
    * engines emit identical BIGINTs plus one final /24 double. The
    * ≤2⁴-row mask table is collected driver-side (bounded by
    * construction — the isotonic-PAV precedent); the corpus-scan half is
    * the shared bitmask aggregate. Efficiency (Σφ = rejected-by-all) is
    * spec-pinned.
    */
  def gateShapley(s: SparkSession, d: String): DataFrame = {
    val masks = gateBitmask(s, d).select("mask", "n_docs").collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val total = masks.values.sum
    def v(sBits: Int): Long =
      total - masks.collect { case (m, n) if (m & sBits) == sBits => n }.sum
    val names = Seq("len_ge_20", "lang_allowlist", "diversity_ge_0.4", "topword_le_0.2")
    val weight24 = Array(6L, 2L, 2L, 6L) // |S|!·(3−|S|)! for |S| = 0..3
    val rows = (0 until 4).map { i =>
      val bit = 1 << i
      val num = (0 until 16).collect {
        case sBits if (sBits & bit) == 0 =>
          weight24(Integer.bitCount(sBits)) * (v(sBits | bit) - v(sBits))
      }.sum
      (i + 1L, names(i), num, num / 24.0)
    }
    import s.implicits._
    rows.toDF("gate_idx", "gate", "shapley_24", "shapley")
      .withColumn("shapley", round(col("shapley"), 6))
      .orderBy("gate_idx")
  }

  /** Near-dup cluster SIZE distribution: how many clusters of each size
    * the pair graph resolves into — the shape parameter that decides
    * whether dedup costs 1% or 30% of the corpus and the first chart of
    * every dedup report. Two tiny aggregates over the `dedup_clusters`
    * labels.
    */
  def clusterSizes(s: SparkSession, d: String): DataFrame =
    dedupClusters(s, d)
      .groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy(col("csize").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
      .orderBy("cluster_size")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cluster_sizes" -> (clusterSizes(_, _)),
    "pipeline_gate_bitmask" -> (gateBitmask(_, _)),
    "pipeline_gate_shapley" -> (gateShapley(_, _)),
    "q_k_anonymity" -> (kAnonymity(_, _)),
    "pipeline_gate_ablation" -> (gateAblation(_, _)),
    "q_dq_checks" -> (dqChecks(_, _)),
    "dedup_clusters" -> (dedupClusters(_, _)),
    "dedup_near_keep_best" -> (nearKeepBest(_, _)),
    "dedup_keep_latest" -> (keepLatest(_, _)),
    "text_bigrams_top" -> (bigramsTop(_, _)),
    "q_approx_percentile" -> (approxPercentiles(_, _))
  )

  /** Shared CTE body: the Jaccard ≥ 0.8 pair graph (mirrors the
    * dedup_ngram_jaccard oracle). */
  private val pairsSql =
    """sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(list_zip(l[1:len(l)-1], l[2:len(l)]),
      |                                      x -> x[1] || ' ' || x[2])) AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
      |        WHERE doc_id < 500)
      |), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh
      |), ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh
      |), inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_inter
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT da, db FROM inter
      |  JOIN sizes sa ON da = sa.doc_id
      |  JOIN sizes sb ON db = sb.doc_id
      |  WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8)""".stripMargin

  /** Shared CTE body: connected components over the pair graph (recursive
    * min-label closure + final labels) — consumed as-is by dedup_clusters
    * and extended by dedup_near_keep_best. Expects `pairs(da, db)` in
    * scope (from `pairsSql`).
    */
  private val ccSql =
    """und AS (SELECT da AS u, db AS v FROM pairs
      |        UNION SELECT db, da FROM pairs),
      |nodes AS (SELECT DISTINCT u AS vtx FROM und),
      |cc AS (
      |  SELECT vtx, vtx AS comp FROM nodes
      |  UNION
      |  SELECT e.v AS vtx, c.comp FROM cc c JOIN und e ON c.vtx = e.u
      |), final AS (SELECT vtx, min(comp) AS comp FROM cc GROUP BY vtx)""".stripMargin

  /** Shared oracle SQL for the gate family: the toks/base/wc derivation
    * every gate oracle starts from, plus the 4-bit pass-mask CTE shared
    * by the bitmask and Shapley oracles — ONE definition so a future
    * gate-threshold change cannot leave one oracle on the old gates. */
  private val gateBaseSql =
    """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w
      |              FROM documents),
      |base AS (SELECT doc_id, lang, len(w) AS ntok,
      |                len(list_distinct(w)) AS ndis FROM toks),
      |wc AS (SELECT doc_id, max(c) AS topw FROM (
      |         SELECT doc_id, t, count(*) AS c
      |         FROM (SELECT doc_id, unnest(w) AS t FROM toks)
      |         GROUP BY 1, 2) GROUP BY doc_id),""".stripMargin

  private val gateMaskSql = gateBaseSql + "\n" +
    """f AS (SELECT
      |        CASE WHEN ntok >= 20 THEN 1 ELSE 0 END
      |        + CASE WHEN lang IN ('en','es','de','fr') THEN 2 ELSE 0 END
      |        + CASE WHEN ndis / ntok >= 0.4 THEN 4 ELSE 0 END
      |        + CASE WHEN topw / ntok <= 0.2 THEN 8 ELSE 0 END AS mask
      |      FROM base JOIN wc USING (doc_id))""".stripMargin

  val oracles: Map[String, String] = Map(
    "pipeline_gate_shapley" ->
      s"""${gateMaskSql},
        |mc AS (SELECT mask, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY mask),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM mc),
        |subsets AS (SELECT unnest(generate_series(0, 15)) AS sb),
        |v AS (
        |  SELECT sb, (SELECT total FROM tot)
        |    - coalesce((SELECT sum(n) FROM mc WHERE (mask & sb) = sb), 0) AS val
        |  FROM subsets),
        |gates AS (SELECT unnest(generate_series(0, 3)) AS gi),
        |contrib AS (
        |  SELECT g.gi,
        |         CASE bit_count(v0.sb) WHEN 0 THEN 6 WHEN 1 THEN 2
        |                               WHEN 2 THEN 2 ELSE 6 END
        |           * (v1.val - v0.val) AS c
        |  FROM gates g
        |  JOIN v v0 ON (v0.sb & (1 << g.gi)) = 0
        |  JOIN v v1 ON v1.sb = (v0.sb | (1 << g.gi))),
        |sh AS (SELECT gi, CAST(sum(c) AS BIGINT) AS shapley_24
        |       FROM contrib GROUP BY gi)
        |SELECT CAST(gi + 1 AS BIGINT) AS gate_idx,
        |       CASE gi WHEN 0 THEN 'len_ge_20' WHEN 1 THEN 'lang_allowlist'
        |               WHEN 2 THEN 'diversity_ge_0.4'
        |               ELSE 'topword_le_0.2' END AS gate,
        |       shapley_24,
        |       round(CAST(shapley_24 AS DOUBLE) / 24.0, 6) AS shapley
        |FROM sh ORDER BY gate_idx""".stripMargin,
    "pipeline_gate_bitmask" ->
      s"""${gateMaskSql}
        |SELECT CAST(mask AS BIGINT) AS mask,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(mask & 1 > 0 AS INT) AS passed_len,
        |       CAST(mask & 2 > 0 AS INT) AS passed_lang,
        |       CAST(mask & 4 > 0 AS INT) AS passed_div,
        |       CAST(mask & 8 > 0 AS INT) AS passed_rep
        |FROM f GROUP BY mask ORDER BY mask""".stripMargin,
    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS class_size,
        |       CAST(count(*) < 5 AS INT) AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pipeline_gate_ablation" ->
      s"""${gateBaseSql}
        |f AS (SELECT ntok >= 20 AS g_len,
        |             lang IN ('en','es','de','fr') AS g_lang,
        |             ndis / ntok >= 0.4 AS g_div,
        |             topw / ntok <= 0.2 AS g_rep
        |      FROM base JOIN wc USING (doc_id)),
        |a AS (SELECT
        |  CAST(count(*) AS BIGINT) AS total,
        |  CAST(sum(CASE WHEN NOT g_len THEN 1 ELSE 0 END) AS BIGINT) AS fa1,
        |  CAST(sum(CASE WHEN NOT g_lang THEN 1 ELSE 0 END) AS BIGINT) AS fa2,
        |  CAST(sum(CASE WHEN NOT g_div THEN 1 ELSE 0 END) AS BIGINT) AS fa3,
        |  CAST(sum(CASE WHEN NOT g_rep THEN 1 ELSE 0 END) AS BIGINT) AS fa4,
        |  CAST(sum(CASE WHEN g_len AND NOT g_lang THEN 1 ELSE 0 END) AS BIGINT) AS fm2,
        |  CAST(sum(CASE WHEN g_len AND g_lang AND NOT g_div THEN 1 ELSE 0 END) AS BIGINT) AS fm3,
        |  CAST(sum(CASE WHEN g_len AND g_lang AND g_div AND NOT g_rep THEN 1 ELSE 0 END) AS BIGINT) AS fm4,
        |  CAST(sum(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |  CAST(sum(CASE WHEN g_len AND g_lang THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |  CAST(sum(CASE WHEN g_len AND g_lang AND g_div THEN 1 ELSE 0 END) AS BIGINT) AS r3,
        |  CAST(sum(CASE WHEN g_len AND g_lang AND g_div AND g_rep THEN 1 ELSE 0 END) AS BIGINT) AS r4
        |  FROM f)
        |SELECT CAST(1 AS BIGINT) AS step, 'len_ge_20' AS gate,
        |       fa1 AS fail_alone, fa1 AS fail_marginal, r1 AS remaining,
        |       total AS total_docs FROM a
        |UNION ALL SELECT 2, 'lang_allowlist', fa2, fm2, r2, total FROM a
        |UNION ALL SELECT 3, 'diversity_ge_0.4', fa3, fm3, r3, total FROM a
        |UNION ALL SELECT 4, 'topword_le_0.2', fa4, fm4, r4, total FROM a
        |ORDER BY step""".stripMargin,
    "q_dq_checks" ->
      """SELECT tbl, metric, value FROM (
        |  SELECT 'orders' AS tbl, 'rows' AS metric,
        |         CAST(count(*) AS BIGINT) AS value FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'dup_orderkeys',
        |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', 'rows', CAST(count(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem', 'orphan_orderkeys', CAST(count(*) AS BIGINT)
        |  FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'lineitem', 'bad_quantity',
        |         CAST(count(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |                         THEN 1 END) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'customer', 'rows', CAST(count(*) AS BIGINT) FROM customer
        |  UNION ALL
        |  SELECT 'customer', 'null_acctbal',
        |         CAST(count(CASE WHEN c_acctbal IS NULL THEN 1 END) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'events', 'rows', CAST(count(*) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'events', 'distinct_users',
        |         CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
        |ORDER BY tbl, metric""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $pairsSql,
         |$ccSql
         |SELECT vtx AS doc_id, comp AS cluster_id, vtx = comp AS is_keeper
         |FROM final ORDER BY doc_id""".stripMargin,
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $pairsSql,
         |$ccSql,
         |cl_sizes AS (SELECT comp AS cluster_id,
         |                    CAST(count(*) AS BIGINT) AS csize
         |             FROM final GROUP BY comp)
         |SELECT csize AS cluster_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(csize) AS BIGINT) AS n_docs
         |FROM cl_sizes GROUP BY csize ORDER BY cluster_size""".stripMargin,
    "dedup_near_keep_best" ->
      s"""WITH RECURSIVE $pairsSql,
         |$ccSql,
         |scored AS (
         |  SELECT doc_id, len(list_distinct(l))::DOUBLE / len(l) AS score
         |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
         |        WHERE doc_id < 500)),
         |lab AS (
         |  SELECT s.doc_id, coalesce(f.comp, s.doc_id) AS cluster_id, s.score
         |  FROM scored s LEFT JOIN final f ON s.doc_id = f.vtx)
         |SELECT doc_id, cluster_id, score,
         |       row_number() OVER (PARTITION BY cluster_id
         |                          ORDER BY score DESC, doc_id) = 1 AS keep
         |FROM lab ORDER BY doc_id""".stripMargin,
    "dedup_keep_latest" ->
      """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |       event_type, value
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id
        |        ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "text_bigrams_top" ->
      """SELECT bigram, count(*) AS df
        |FROM (SELECT doc_id,
        |             unnest(list_distinct(list_transform(
        |               list_zip(l[1:len(l)-1], l[2:len(l)]),
        |               x -> x[1] || ' ' || x[2]))) AS bigram
        |      FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
        |GROUP BY bigram
        |ORDER BY df DESC, bigram
        |LIMIT 20""".stripMargin,
    // GK estimates are sketch-specific; the oracle checks the exact
    // interpolated percentiles and that the tolerance gates reported true.
    "q_approx_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        |       count(*) AS n,
        |       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
