package graft

import org.apache.spark.sql.functions.{lit, when}

/** Physical-plan regression tests — the 100 TB design claims in DESIGN.md,
  * asserted against the actual planner output so a refactor can't silently
  * regress pushdown, broadcast choice, top-k placement, or codegen.
  */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString

  test("q_tpch_q5: every dimension broadcast, no sort-merge join") {
    val plan = executedPlan("q_tpch_q5")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"dim joins must broadcast, not shuffle both sides:\n$plan")
  }

  test("q_filter_range: range predicates pushed to the parquet scan") {
    val plan = executedPlan("q_filter_range")
    // (PushedFilters text is truncated at maxMetadataStringLength in
    // toString — assert the visible prefix)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "GreaterThanOrEqual(l_shipdate"), plan)
  }

  test("q_global_rank: range-partitioned sort, no single-partition window") {
    val sorted = graft.queries.ScaleQueries.globalRankSorted(spark, sf)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val plan = sorted.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"),
      s"global order must come from a range-partitioned sort:\n$plan")
    assert(!plan.contains("Window"),
      s"ranking must not plan a window (single-partition at scale):\n$plan")
    // the two-pass stamping preserves the sorted order exactly: ranks are
    // dense 1..N and monotone in the (ts_us, event_id) total order
    val rows = graft.queries.ScaleQueries.globalRank(spark, sf)
      .select("rank", "ts_us", "event_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    val keys = rows.map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(keys == keys.sorted, "ranks disagree with the total order")
  }

  test("q_topk_global: TakeOrderedAndProject, never a global sort+limit") {
    val plan = executedPlan("q_topk_global")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_project_compute: scan schema pruned to referenced columns only") {
    val plan = executedPlan("q_project_compute")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_returnflag"),
      s"projection must prune unreferenced columns: $readSchema")
  }

  test("q_topk_pergroup: rank<=k pushed below the shuffle (WindowGroupLimit)") {
    // without this the window would shuffle every row into its group; with
    // the partial WindowGroupLimit only top-k per map partition crosses
    val plan = executedPlan("q_topk_pergroup")
    // two instances: Partial (map-side, below the brand exchange) + Final
    val n = "WindowGroupLimit".r.findAllIn(plan).length
    assert(n >= 2, s"expected partial+final WindowGroupLimit, found $n:\n$plan")
  }

  test("sim_cosine_topk: heap aggregate — no sort or window machinery at all") {
    // the native TopKAgg bounds the exchange like WindowGroupLimit does,
    // but with a per-task heap instead of a map-side SORT of the scored
    // stream; the plan must carry partial+final ObjectHashAggregate and
    // no Sort below the qid exchange (the only sort is the final ORDER BY)
    val plan = executedPlan("sim_cosine_topk")
    val n = "ObjectHashAggregate".r.findAllIn(plan).length
    assert(n >= 2, s"expected partial+final ObjectHashAggregate, found $n:\n$plan")
    assert(!plan.contains("WindowGroupLimit") && !plan.contains("Window"),
      s"scoring path must not fall back to window machinery:\n$plan")
  }

  test("sim_ann_topk: every join broadcast — corpus vectors never shuffled") {
    val plan = executedPlan("sim_ann_topk")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"ANN retrieval must not shuffle corpus vectors:\n$plan")
  }

  test("q_asof_native: custom AsOfJoin exec, probe side never hash-shuffled") {
    val plan = executedPlan("q_asof_native")
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"broadcast as-of must not shuffle the probe:\n$plan")
  }

  test("q_tpch_q10: dims broadcast; the fact table shuffles at most once") {
    val plan = executedPlan("q_tpch_q10")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // customer/nation joins must broadcast: no shuffle-requiring join
    // operator may key on custkey/nationkey (the partial-agg regroup
    // exchange naming c_custkey is fine — it carries 6-column group rows)
    val shuffleJoins = plan.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(shuffleJoins.forall(l => !l.contains("c_custkey") && !l.contains("n_nationkey")),
      s"customer/nation joins must broadcast, not shuffle the fact:\n$plan")
  }

  test("q_tpch_q14: part broadcast — lineitem never shuffles") {
    val plan = executedPlan("q_tpch_q14")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"single-agg broadcast join must not shuffle the fact:\n$plan")
  }

  test("q_tpch_q4: EXISTS plans as a semi join, not an aggregate+join") {
    val plan = executedPlan("q_tpch_q4")
    assert(plan.contains("LeftSemi"), plan)
  }

  test("q_tpch_q1: pre-shuffle partial aggregation collapses the scan") {
    val plan = executedPlan("q_tpch_q1")
    // partial + final HashAggregate pair around one tiny exchange: only 6
    // group rows per map task cross the wire, not 600k lineitems
    val n = "HashAggregate".r.findAllIn(plan).length
    assert(n >= 2, s"expected partial+final HashAggregate:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("PartialMerge") ||
      plan.contains("Partial"), plan)
  }

  test("pipeline_decontam_semantic: eval set broadcast, corpus never shuffled pre-agg") {
    val plan = executedPlan("pipeline_decontam_semantic")
    // the design: eval embeddings are the broadcast build of a BNLJ cross;
    // the train corpus streams — its only exchange is the per-vector max agg
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"train corpus must stream against the broadcast eval set:\n$plan")
  }

  test("pipeline_shard_shuffle: one shard-keyed exchange, rank inside the partition") {
    val plan = executedPlan("pipeline_shard_shuffle")
    // F3+F5: hashpartitioning on shard, window rank within; the only other
    // exchange is the rangepartitioning for the gate's output order
    assert(plan.contains("hashpartitioning(shard"), plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"shard shuffle is join-free:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // one hot key (~99% of a padded fact) joined without broadcast; with
    // thresholds scaled to the fixture, AQE's OptimizeSkewedJoin must mark
    // the sort-merge join skew=true and split the hot partition — the
    // runtime half of the skew story (the static half is q_salted_join)
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      import spark.implicits._
      // pad is incompressible (md5) and carried through the join so the
      // hot partition's MapOutputStatistics bytes actually reflect the skew
      val big = spark.range(0, 200000)
        .select(when($"id" % 100 =!= 0, lit(1L)).otherwise($"id").as("k"),
          org.apache.spark.sql.functions.md5($"id".cast("string")).as("pad"))
      val small = spark.range(0, 1000).select($"id".as("k"), lit("r").as("tag"))
      val df = big.join(small, "k").select($"k", $"pad")
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      // 198000 hot-key rows + the 10 cold keys (0,100..900) inside 0..999
      assert(df.count() == 198010)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected skew-split SMJ:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_tpch_q19: disjunctive-predicate join broadcasts part, never shuffles lineitem") {
    val plan = executedPlan("q_tpch_q19")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"part must broadcast over a single fact scan:\n$plan")
  }

  test("q_tpch_q16: NOT IN suppliers plans as a broadcast anti-join") {
    val plan = executedPlan("q_tpch_q16")
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"part + flagged-supplier joins must both broadcast:\n$plan")
  }

  test("q_tpch_q21: dims broadcast; self-joins exchange only on l_orderkey") {
    val plan = executedPlan("q_tpch_q21")
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"), plan)
    // supplier/nation must never be a shuffle join; the only shuffle joins
    // allowed are the lineitem self-joins keyed on l_orderkey
    val shuffleJoins = plan.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")).toList
    assert(shuffleJoins.forall(l => !l.contains("s_suppkey") && !l.contains("n_nationkey")),
      s"supplier/nation joins must broadcast:\n$plan")
  }

  test("q_tpch_q2: correlated min is one window pass, no re-aggregation join") {
    val plan = executedPlan("q_tpch_q2")
    assert(plan.contains("Window"), plan)
    // the supply agg exchanges once on (partkey,suppkey); the window's
    // partkey exchange is the second — there must be no third pass that
    // recomputes the subquery per outer row
    assert(!plan.contains("SortMergeJoin"),
      s"geo/part joins must broadcast around the windowed supply agg:\n$plan")
  }

  test("runtime bloom-filter pruning injects into the probe side (shuffle join)") {
    // when a selective filter sits on one join side and the other is too
    // big to broadcast, Spark 4's runtime row-level filtering builds a
    // bloom filter from the filtered side and applies might_contain on the
    // probe scan — rows for never-matching keys die before the exchange.
    // The 100 TB lever for selective fact-fact joins; thresholds scaled to
    // the fixture to trigger the same injection a large cluster would see.
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val df = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("l_returnflag").count()
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter_agg"), s"expected bloom build side:\n$plan")
      assert(plan.contains("might_contain"), s"expected probe-side filter:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("text_perplexity: both model windows share ONE exchange") {
    // the join-free rewrite's point: hash partitioning on the (w1,w2)
    // context satisfies the (w1,w2,w3) window too — a regression to the
    // model-join form would re-introduce two more exchanges
    val plan = executedPlan("text_perplexity")
    val exchanges = plan.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      plan.linesIterator.count(_.trim.startsWith(":- Exchange"))
    val windows = "Window".r.findAllIn(plan).length
    assert(windows >= 2, s"expected two window operators:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"perplexity must be join-free:\n$plan")
    assert(exchanges <= 3, // window repartition + doc_id regroup + orderBy
      s"expected ≤3 exchanges (found $exchanges):\n$plan")
  }

  test("q_bloom_prejoin: probe filtered by might_contain BEFORE its exchange") {
    val plan = executedPlan("q_bloom_prejoin")
    assert(plan.contains("might_contain"), s"expected bloom probe filter:\n$plan")
    val filterIdx = plan.linesIterator.indexWhere(_.contains("might_contain"))
    val scanIdx = plan.linesIterator.indexWhere(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    // the filter sits between the lineitem scan and anything above it
    // (tree prints top-down: filter line must appear before the scan line)
    assert(filterIdx >= 0 && scanIdx > filterIdx,
      s"bloom filter must gate the lineitem scan:\n$plan")
  }

  test("q_dsv2_scan: source prunes planned partitions to the pushed bounds") {
    // 16 slices of 100k rows; bounds [25000,75000) touch exactly 8
    val b = new graft.sources.SeqScanBuilder(100000L, 16)
    b.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 25000L),
      org.apache.spark.sql.sources.LessThan("id", 75000L)))
    assert(b.build().toBatch.planInputPartitions().length == 8)
  }

  test("q_null_aware_anti: NOT IN plans the null-aware anti join variant") {
    val plan = executedPlan("q_null_aware_anti")
    // trailing `true` on the BHJ line is the isNullAwareAntiJoin flag —
    // a plain left_anti here would silently change NOT IN semantics
    assert(plan.contains("LeftAnti, BuildRight, true"), plan)
  }

  test("text_bm25: single-pass scan — no token shuffle, top-k cut only") {
    val plan = executedPlan("text_bm25")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"BM25 must not shuffle tokens or docs:\n$plan")
    assert(!plan.contains("Generate"), s"no explode in the scan-side form:\n$plan")
  }

  test("er_fuzzy_match: blocked join is broadcast-hash, rank-1 pushed below shuffle") {
    val plan = executedPlan("er_fuzzy_match")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"blocking must make the linkage join equi-keyed:\n$plan")
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("aggregations run inside whole-stage codegen") {
    // codegen stars only appear in the FINAL adaptive plan — execute first
    val df = SparkEntry.queries("q_agg_basic")(spark, sf)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    df.collect() // count() would execute a different (re-planned) query
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen stages:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("wc_wordcount tokenizes with letter_runs: no regex split, no lambda") {
    val plan = executedPlan("wc_wordcount")
    assert(plan.contains("letter_runs(lower("), plan)
    assert(!plan.contains("lambdafunction") && !plan.contains("filter(") &&
      !plan.contains("split("), s"tokenizer must not split by regex or filter:\n$plan")
  }

  test("vertex_degree: combiner partials feed the sum, no per-endpoint Generate") {
    val plan = executedPlan("vertex_degree")
    assert(plan.contains("Scan ExistingRDD") && plan.contains("sum("), plan)
    assert(!plan.contains("Generate"), s"endpoints must not be exploded:\n$plan")
  }
}
