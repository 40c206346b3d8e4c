package graft

/** `Session.reset` is the one inter-query reset of Bench and Verify: after
  * it, a query's work must not depend on what ran before it in the JVM,
  * and no persisted or cached block of an earlier query may survive.
  */
class SessionSpec extends SparkSpec {

  /** Registry queries that read the same intermediate result as a sibling:
    * the near-dup cluster labels, the connected-component labels, and the
    * persisted shingle corpus of a repeated LSH run. */
  private val families = Seq(
    Seq("dedup_clusters", "dedup_cluster_sizes", "dedup_near_keep_best"),
    Seq("graph_components", "graph_component_sizes"),
    Seq("dedup_minhash_lsh"))

  private def run(name: String): Unit = SparkEntry.queries(name)(spark, sf).collect()

  private def jobsAfterReset(name: String): Int = {
    Session.reset(spark)
    JobCounter.count(spark)(run(name))._2
  }

  test("after Session.reset a query starts the same jobs whether or not its siblings ran first") {
    for (family <- families; name <- family) {
      val alone = jobsAfterReset(name)
      family.foreach(run)
      val afterSiblings = jobsAfterReset(name)
      assert(alone > 0, s"$name started no job")
      assert(afterSiblings === alone, s"$name: $afterSiblings jobs after its siblings, $alone alone")
    }
  }

  test("a conf set through Session.child is not visible on the parent session") {
    val key = "spark.sql.cteRecursionRowLimit"
    val before = spark.conf.getOption(key)
    val child = Session.child(spark, key -> "-1")
    assert(child.conf.get(key) === "-1")
    assert(child.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    assert(spark.conf.getOption(key) === before)
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "true")
  }

  test("after Session.reset a second stream_dedup run compiles no codegen class") {
    // Each bridge runs on a new child session. With artifact isolation on,
    // each child's tasks ran under their own classloader, a new key in the
    // codegen cache, and the second run recompiled all 13 classes.
    import org.apache.spark.metrics.source.CodegenMetrics
    run("stream_dedup")
    Session.reset(spark)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run("stream_dedup")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0L)
  }

  test("Session.reset frees every persistent RDD and cached plan") {
    Seq("dedup_minhash_lsh", "graph_components", "q_cached_scan").foreach(run)
    val cacheManager = spark.sharedState.cacheManager
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(!cacheManager.isEmpty)
    Session.reset(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cacheManager.isEmpty)
  }
}
