package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen, parquet footer caches, broadcast machinery)
    // so the first timed query doesn't absorb startup cost
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).count()
    // a failed query reports -1 (not its tiny time-to-throw) so breakage is
    // visible in the JSON; failures are excluded from the total and counted
    // explicitly so breakage can never flatter the headline number
    // dev-only subset filter (comma-separated names); driver sets neither
    val only = SparkEntry.onlyFilter()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      Session.reset(spark)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
      }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    Session.reset(spark)
    // Locale.ROOT: the f-interpolator honors the default locale, and a
    // comma-decimal locale (de_DE etc.) would make the output invalid JSON
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    val total = results.map(_._2).filter(_ >= 0).sum
    // Full per-query detail goes to a file (and an early stdout line): the
    // harness only retains a short tail of stdout, so the FINAL line must
    // stay compact — headline queries only — or it gets truncated mid-JSON
    // and never parses (observed in rounds 1-2).
    val detail = s"""{"metric":"total","value":${num(total)},"unit":"sec","failed":$failed,"n_queries":${results.size},"queries":${jmap(results)},"sf":"$sfDir"}"""
    // a SPARK_GRAFT_ONLY dev-subset run must not clobber the committed
    // full-registry record (it did once — a 1-query debug run replaced the
    // end-of-round bench); subset details land next to it instead
    val detailFile =
      if (only.isEmpty) "BENCH_DETAIL.json" else "BENCH_DETAIL_subset.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(detailFile), detail.getBytes("UTF-8"))
    println(detail)
    val headline = Seq(
      "wc_wordcount", "grep_contains", "vertex_degree",
      "q_tpch_q1", "q_tpch_q5", "q_tpch_q9", "q_tpch_q18", "q_tpch_q21",
      "q_join_left", "q_window_frame", "q_events_session",
      "dedup_minhash_lsh", "dedup_embedding_lsh", "dedup_clusters",
      "sim_ann_topk", "sim_cosine_topk", "text_tfidf",
      "graph_components", "stream_interval_join", "pipeline_decontam")
    val head = results.filter(r => headline.contains(r._1))
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","failed":$failed,"n_queries":${results.size},"queries":${jmap(head)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
