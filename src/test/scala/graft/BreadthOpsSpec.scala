package graft

import graft.queries.BreadthQueries
import org.apache.spark.sql.functions._

/** Invariants for the round-6 breadth batch (oracle parity is the driver
  * gate; these pin the semantic claims the oracles can't see).
  */
class BreadthOpsSpec extends SparkSpec {

  test("window nth: first/second/last agree with the per-user event order") {
    val rows = BreadthQueries.windowNth(spark, sf).collect()
      .groupBy(_.getAs[Long]("user_id"))
    assert(rows.nonEmpty)
    rows.foreach { case (_, evs) =>
      val ordered = evs.sortBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id")))
      val (first, last) = (ordered.head.getAs[Double]("value"),
        ordered.last.getAs[Double]("value"))
      ordered.foreach { r =>
        assert(r.getAs[Double]("first_v") === first)
        assert(r.getAs[Double]("last_v") === last)
        if (ordered.length >= 2)
          assert(r.getAs[Double]("second_v") === ordered(1).getAs[Double]("value"))
        else assert(r.isNullAt(r.fieldIndex("second_v")))
      }
    }
  }

  test("collate: one group per case-insensitive type, counts reconcile") {
    val rows = BreadthQueries.collateGroup(spark, sf).collect()
    val nTypes = Tables.events(spark, sf)
      .select(lower(col("event_type"))).distinct().count()
    assert(rows.length.toLong === nTypes)
    assert(rows.map(_.getAs[Long]("n")).sum === Tables.events(spark, sf).count())
    // mixed casing actually occurred, or the collation is untested
    rows.foreach(r => assert(
      r.getAs[String]("variant_min") != r.getAs[String]("variant_max")))
  }

  test("asof nearest: gap is the min distance, direction matches side") {
    val rows = BreadthQueries.asofNearest(spark, sf).collect()
    assert(rows.nonEmpty)
    val dirs = rows.map(_.getAs[String]("direction")).toSet
    assert(dirs.subsetOf(Set("backward", "forward", "none")))
    assert(dirs.contains("backward") && dirs.contains("forward"),
      "fixture exercises only one direction — nearest choice is vacuous")
    rows.filter(_.getAs[String]("direction") != "none").foreach { r =>
      assert(r.getAs[Long]("gap_us") >= 0L)
    }
  }

  test("binary hamming: top-5 per query, distances in [0,64], rank-ordered") {
    val rows = BreadthQueries.binaryHammingTopK(spark, sf).collect()
    val perQ = rows.groupBy(_.getAs[Long]("qid"))
    assert(perQ.size === 10)
    perQ.foreach { case (_, rs) =>
      assert(rs.length === 5)
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      val h = sorted.map(_.getAs[Int]("hamming"))
      assert(h.forall(x => x >= 0 && x <= 64))
      assert(h.sameElements(h.sorted), "rank must follow hamming ascending")
      sorted.foreach(r => assert(math.abs(r.getAs[Double]("cos")) <= 1.0 + 1e-9))
    }
  }

  test("novelty: bounded ratios; first occurrences partition the bigram space") {
    val rows = BreadthQueries.textNovelty(spark, sf).collect()
    rows.foreach { r =>
      val nov = r.getAs[Double]("novelty")
      assert(nov >= 0.0 && nov <= 1.0)
      assert(r.getAs[Long]("n_first") <= r.getAs[Long]("n_bigrams"))
    }
    // the lowest doc_id with bigrams sees everything first
    assert(rows.minBy(_.getAs[Long]("doc_id")).getAs[Double]("novelty") === 1.0)
    // every distinct bigram is counted first exactly once, corpus-wide
    import graft.functions.TextFunctions.{bigramShingles, spaceTokens}
    val nDistinct = Tables.documents(spark, sf)
      .select(explode(bigramShingles(spaceTokens(col("text")))).as("sh"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_first")).sum === nDistinct)
  }

  test("ridge 2f: betas reproduce the closed form from the exact sums") {
    val r = BreadthQueries.ridge2f(spark, sf).collect().head
    val (s11, s12, s22, s1y, s2y) = (r.getAs[Long]("s11"), r.getAs[Long]("s12"),
      r.getAs[Long]("s22"), r.getAs[Long]("s1y"), r.getAs[Long]("s2y"))
    val lam = 1000000.0
    val (a, b, c) = (s11.toDouble + lam, s12.toDouble, s22.toDouble + lam)
    val det = a * c - b * b
    assert(det > 0.0) // ridge-regularized Gram matrix is PD
    assert(r.getAs[Double]("beta1") === (c * s1y.toDouble - b * s2y.toDouble) / det)
    assert(r.getAs[Double]("beta2") === (a * s2y.toDouble - b * s1y.toDouble) / det)
  }

  test("ann recall audit: every query covered, recall in [0,1], mean >= 0.9") {
    val rows = BreadthQueries.annRecallAtK(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getAs[Long]("k") === 5L)
      val rec = r.getAs[Double]("recall_at_k")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    val mean = rows.map(_.getAs[Double]("recall_at_k")).sum / rows.length
    assert(mean >= 0.9, s"LSH recall@5 degraded to $mean — band geometry regression")
  }

  test("kl divergence: non-negative (up to micro-rounding), tokens reconcile") {
    val rows = BreadthQueries.klSource(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("kl") >= -1e-6,
      s"KL must be >= 0 (Gibbs): ${r.getAs[Double]("kl")}"))
    import graft.functions.TextFunctions.spaceTokens
    val total = Tables.documents(spark, sf)
      .select(size(spaceTokens(col("text"))).cast("long").as("n"))
      .agg(sum("n")).head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === total)
  }

  test("char entropy: within [0, ln(alphabet)] per doc") {
    val rows = BreadthQueries.charEntropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getAs[Double]("entropy_nats")
      val cap = math.log(r.getAs[Long]("n_distinct_chars").toDouble)
      assert(e >= -1e-9 && e <= cap + 1e-6)
    }
  }

  test("span corruption: mask accounting exact, corruption non-vacuous") {
    val rows = BreadthQueries.spanCorruption(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_masked")).sum > 0L,
      "no span masked on the fixture — corruption untested")
    rows.foreach { r =>
      val kept = r.getAs[String]("corrupted")
      val keptCount = if (kept.isEmpty) 0 else kept.split(" ", -1).length
      assert(keptCount.toLong ===
        r.getAs[Long]("n_tokens") - r.getAs[Long]("n_masked"))
      assert(r.getAs[Long]("n_masked_spans") * 3 >= r.getAs[Long]("n_masked"))
    }
  }

  test("sort nulls: placement pinned under both orderings") {
    val rows = BreadthQueries.sortNulls(spark, sf).collect()
      .groupBy(_.getAs[String]("o_orderpriority"))
    rows.foreach { case (_, g) =>
      val nNull = g.count(_.isNullAt(2))
      val sz = g.length
      if (nNull > 0 && nNull < sz) {
        // nulls occupy exactly the first ranks ascending-nulls-first...
        assert(g.filter(_.isNullAt(2)).map(_.getAs[Int]("rn_nulls_first")).max === nNull)
        // ...and exactly the last ranks descending-nulls-last
        assert(g.filter(_.isNullAt(2)).map(_.getAs[Int]("rn_nulls_last")).min === sz - nNull + 1)
      }
    }
  }

  test("streaming union of parity-split sources equals the whole-table windows") {
    val got = queries.StreamingBridge.unionViaStream(spark, sf).collect()
      .map(_.toString).sorted
    val exp = queries.StreamingBridge.tumblingViaStream(spark, sf).collect()
      .map(_.toString).sorted
    assert(got.nonEmpty && got === exp)
  }

  test("available-now: multi-batch totals equal the one-shot aggregate") {
    // the builder itself REQUIRES >= 2 micro-batches (rate-limit pin); the
    // 4-file split with maxFilesPerTrigger=1 must keep its >= 4 batches
    val (rows, progress) = StreamProgress.record(spark)(
      queries.StreamingBridge.availableNowViaStream(spark, sf).collect())
    assert(progress.count(_.numInputRows > 0) >= 4,
      s"${progress.size} micro-batches, ${progress.count(_.numInputRows > 0)} with data")
    val got = rows.map(_.toString).sorted
    val exp = Tables.events(spark, sf)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("v_c"))
      .collect().map(_.toString).sorted
    assert(got.nonEmpty && got === exp)
  }

  test("metadata columns ride the scan; defaults fill unlisted columns") {
    val m = queries.CatalogQueries.metadataCols(spark, sf).collect()
    assert(m.length === 1)
    assert(m.head.getAs[Long]("n_rows") === Tables.lineitem(spark, sf).count())
    assert(m.head.getAs[Long]("n_sparse_files") === 0L,
      "per-file row counts must reconcile against each file's row_index span")
    // build TWICE: a leftover table location must not break a rebuild
    queries.CatalogQueries.defaultCols(spark, sf).collect()
    val dft = queries.CatalogQueries.defaultCols(spark, sf).collect()
    assert(dft.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1L, "new", 42L), (2L, "new", 42L), (3L, "done", 42L), (4L, "full", 7L)))
  }

  test("metadata columns on a MULTI-FILE layout: per-file audit counts") {
    // The registry oracle pins the driver's single-file fixture by name, so
    // the multi-file shape (a Spark-written directory — what every sf1+
    // layout looks like) is proven here instead: group by
    // `_metadata.file_name` over a 4-file write and reconcile the per-file
    // counts against the directory listing and the total.
    val tmpRoot = java.nio.file.Files.createTempDirectory("graft_meta_multi")
    try {
      val path = tmpRoot.toString + "/li4"
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      li.repartition(4).write.mode("overwrite").parquet(path)
      val perFile = spark.read.parquet(path)
        .groupBy(expr("_metadata.file_name").as("file_name"))
        .agg(count(lit(1)).as("n_rows"))
        .collect()
      val onDisk = new java.io.File(path).listFiles()
        .map(_.getName).filter(n => n.endsWith(".parquet")).toSet
      assert(onDisk.size === 4, s"expected a 4-file layout, got $onDisk")
      assert(perFile.map(_.getAs[String]("file_name")).toSet === onDisk)
      assert(perFile.map(_.getAs[Long]("n_rows")).sum === li.count())
      assert(perFile.forall(_.getAs[Long]("n_rows") > 0L))
    } finally { // the 4-file copy must not accumulate in /tmp across runs
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(tmpRoot)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  test("csv quoting: delimiter/quote/newline payloads round-trip losslessly") {
    val got = queries.CatalogQueries.csvQuoted(spark, sf).collect()
    val exp = Tables.documents(spark, sf)
      .select(col("doc_id"), concat(col("source"), lit(",\""), col("lang"),
        lit("\"\n"), substring(col("text"), 1, 20)).as("payload"))
      .collect()
    assert(got.length === exp.length)
    val gm = got.map(r => r.getLong(0) -> r.getString(1)).toMap
    exp.foreach { r =>
      val p = gm(r.getLong(0))
      assert(p == r.getString(1))
      assert(p.contains("\n") && p.contains("\"") && p.contains(","))
    }
  }

  test("full-outer interval join emits matched plus BOTH unmatched directions") {
    // unmatched rows emit only on state eviction, in the trailing
    // watermark micro-batch after the data batch
    val (rows, progress) = StreamProgress.record(spark)(
      queries.StreamingBridge.intervalFullViaStream(spark, sf).collect())
    assert(progress.size >= 2, s"${progress.size} micro-batch(es): no trailing watermark batch")
    val matched = rows.count(r => !r.isNullAt(1) && !r.isNullAt(2))
    val sOnly = rows.count(r => !r.isNullAt(1) && r.isNullAt(2))
    val pOnly = rows.count(r => r.isNullAt(1) && !r.isNullAt(2))
    assert(matched > 0, "no matched pair — join vacuous")
    assert(sOnly > 0, "no unmatched signup — left eviction untested")
    assert(pOnly > 0, "no unmatched purchase — RIGHT eviction untested " +
      "(the direction the left-outer bridge never exercises)")
  }

  test("dynamic overwrite replaces only the written partition") {
    val rows = queries.CatalogQueries.dynamicOverwrite(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet === base.keySet, "a partition vanished — static-mode wipe")
    base.foreach { case (t, (n, c)) =>
      val (gn, gc) = rows(t)
      assert(gn === n)
      assert(gc === (if (t == "click") 2 * c else c))
    }
  }

  test("chained streaming agg equals the batch rollup of closed windows") {
    val got = queries.StreamingBridge.chainedAggViaStream(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val ev = Tables.events(spark, sf)
    val wmUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0) / 1000 * 1000
    val l1 = ev.select((floor(unix_micros(col("ts")) / 600000000L) * 600L)
        .as("win_start"), col("event_type"))
      .groupBy("win_start", "event_type").agg(count(lit(1)).as("cnt"))
    val exp = l1.groupBy("win_start")
      .agg(count(lit(1)).as("n_types"), sum("cnt").as("n_events"))
      .filter((col("win_start") + 600) * 1000000L <= wmUs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.nonEmpty)
    assert(got === exp)
  }
}
