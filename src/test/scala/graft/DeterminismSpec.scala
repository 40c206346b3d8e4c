package graft

/** Partition-count independence: the reproducibility contract behind the
  * driver's hash oracle AND any cross-cluster rerun — the same query on the
  * same data must produce IDENTICAL rows no matter how the data is split.
  * Exercised by re-running representative queries under a different
  * spark.sql.shuffle.partitions and comparing collected results exactly
  * (floats included — the repo's rounding/serial-fold discipline is what
  * makes this hold; a violation here would eventually surface as a flaky
  * oracle on a real cluster).
  */
class DeterminismSpec extends SparkSpec {

  // spans the risk classes: rounded float aggs over joins (q_tpch_q9),
  // wide rounded aggs (q_tpch_q1), raw-double serial folds (q_ewma),
  // sketch pipelines with persists (dedup_minhash_lsh), windowed
  // analytics (q_window_frame), hash-bucketed sampling (q_sample_hash),
  // hash-priority top-k selection (pipeline_sample_weighted), iterative
  // relaxation (graph_bfs), and the typed opaque-lambda fold
  // (q_typed_reduce — integral sums, so order cannot leak into results)
  // round-3 fourth batch adds: rounded per-dim float means after a
  // broadcast argmax (ml_kmeans_step), exact-decimal power sums feeding
  // double formulas (ml_linreg_ols), variance/corr aggregates
  // (q_ab_ttest, q_autocorr), scan-side scoring with a rounded top-k cut
  // (text_bm25), and rounded argmax linkage (er_jaro_winkler)
  // round-3 fifth batch adds the fixed-point micro-unit aggregates
  // (ml_naive_bayes, ml_logreg_step — per-row rounded transcendentals
  // summed as integers) and the commutative-hash fingerprint
  // (q_table_fingerprint), whose whole POINT is layout independence
  // round-8 batch pins the sf10-found money-sum fixes (q_cube,
  // q_agg_basic, q_repartition_sort, q_sample_stratified — per-row
  // BIGINT cents/e4 micro-units replacing round(sum(double),2), the
  // class whose order-dependence only SURFACES at ≥5M rows/group but
  // whose contract this spec states at any size)
  private val probes = Seq("q_tpch_q1", "q_tpch_q9", "q_ewma",
    "dedup_minhash_lsh", "q_window_frame", "q_sample_hash",
    "pipeline_sample_weighted", "graph_bfs", "q_typed_reduce",
    "ml_kmeans_step", "ml_linreg_ols", "q_ab_ttest", "q_autocorr",
    "text_bm25", "er_jaro_winkler",
    "ml_naive_bayes", "ml_logreg_step", "q_table_fingerprint",
    "q_cube", "q_agg_basic", "q_repartition_sort", "q_sample_stratified")

  private def runAll(parts: String): Map[String, Seq[String]] = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      probes.map { q =>
        // free cross-query state so each configuration truly recomputes
        Session.reset(spark)
        q -> SparkEntry.queries(q)(spark, sf).collect().toSeq.map(_.toString)
      }.toMap
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("identical results at shuffle.partitions=3 and =13") {
    val a = runAll("3")
    val b = runAll("13")
    probes.foreach { q =>
      assert(a(q) == b(q),
        s"$q differs across partition counts: ${a(q).size} vs ${b(q).size} rows, " +
          s"first diff: ${a(q).zip(b(q)).find { case (x, y) => x != y }}")
    }
  }
}
